package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Profiles, Scoring}

/** End-to-end composed pipelines (the reference's request flow as ONE
  * declarative DataFrame plan — SURVEY.md §3.2 rewrite).
  *
  * The reference (`api/app.py:228-265`) crosses process boundaries 4×
  * per transaction (2 MySQL round-trips, 1 ML-worker HTTP hop, 1 INSERT).
  * Here the whole batch is one plan: profile lookups decorrelate into one
  * broadcast-joined aggregate, rules/deviation/fusion/risk are pure
  * `Column` arithmetic inside a single whole-stage-codegen span, and the
  * only wide exchange is the profile aggregate's partial+final hash agg.
  */
object Pipelines {

  /** Thresholds for the events-table binding of the scoring pipeline
    * (FIXTURES.md §B1: rule thresholds are parameterized per table so each
    * predicate selects a non-trivial subset of the driver testdata). */
  final case class EventScoringConfig(
      largeAmount: Double = 100.0,  // reference: 1000 (api/app.py:170); events.value ∈ [0.03, 327.5]
      bigAmount: Double = 250.0,    // reference: 10000 (api/app.py:186)
      oddHourCutoff: Int = 5,       // reference: 5 (api/app.py:176)
      suspiciousChannel: String = "purchase", // reference: "card"
      propsKeyThreshold: Int = 80)  // stands in for the location whitelist

  /** The events binding of the three rules (`api/app.py:170-178`):
    * large amount, suspicious channel with a high `props.k` (standing
    * in for the card/location rule) and odd hour. The column defaults
    * read the raw `events` schema. Returned as a triple because
    * `q_rule_score` names each triggered part in its flags. */
  def eventRules(cfg: EventScoringConfig, amount: Column = col("value"),
                 channel: Column = col("event_type"), props: Column = col("props"),
                 hourOfDay: Column = hour(col("ts"))): (Column, Column, Column) = (
    Scoring.ruleLargeAmount(amount, cfg.largeAmount),
    when(lower(channel) === cfg.suspiciousChannel &&
           get_json_object(props, "$.k").cast("int") > cfg.propsKeyThreshold,
         lit(Scoring.RuleLocationWeight)).otherwise(lit(0.0)),
    Scoring.ruleOddHour(hourOfDay, cfg.oddHourCutoff))

  /** The scoring transform alone (no source, no sort): rules →
    * deviation → gateway fusion → risk over an events frame already
    * joined to its customer profile (`cust_avg`). Works identically on
    * batch and streaming DataFrames — the streaming path
    * (`streaming.ScoreStream`) reuses it verbatim. */
  def applyScoring(joined: DataFrame,
                   cfg: EventScoringConfig = EventScoringConfig()): DataFrame = {
    val (r1, r2, r3) = eventRules(cfg)
    joined
      .transform(Scoring.fuseGateway(Scoring.ruleScore(r1, r2, r3),
        Scoring.deviation(col("value"), col("cust_avg")), lit(0.0),
        col("value"), cfg.bigAmount))
      .select(
        col("event_id"),
        round(col("__rule"), 6).as("rule_score"),
        round(col("__dev"), 6).as("deviation_score"),
        round(col("__agg"), 6).as("aggregated_score"),
        Scoring.riskLevel(col("__agg")).as("risk_level"))
  }

  /** The reference's entire non-ML scoring path (`api/app.py:230-259`
    * minus model scores) over the `events` table:
    * filter → profile agg → broadcast join → deviation → rules →
    * gateway fusion (model scores = 0) → risk level.
    *
    * Returns one row per event, ordered by `event_id`, float columns
    * rounded to 6 decimals for oracle parity.
    */
  def scoreEvents(spark: SparkSession, sfDir: String,
                  cfg: EventScoringConfig = EventScoringConfig()): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val prof = ev.groupBy("user_id").agg(avg("value").as("cust_avg"))
    applyScoring(Profiles.joinProfiles(ev, prof, "user_id"), cfg)
      .orderBy("event_id")
  }

  /** The reference's SHIPPED thresholds for its own transactions schema
    * (`api/app.py:29,167-193`) — unlike `EventScoringConfig`, nothing is
    * re-parameterized: a reference user pointing this at their
    * `train_transactions.csv` gets the deployed behavior. */
  final case class TxScoringConfig(
      largeAmount: Double = 1000.0,      // api/app.py:170
      amountHighRisk: Double = 10000.0,  // api/app.py:29 AMOUNT_HIGH_RISK
      oddHourCutoff: Int = 5,            // api/app.py:176
      cardChannel: String = "card",      // api/app.py:173
      safeLocations: Seq[String] = Seq("Harare", "Bulawayo"))

  /** Gateway scoring over the reference's transactions schema
    * (`Sources.transactionsCsvSchema`): per-customer profile agg →
    * broadcast join → rules/deviation/fusion/risk, model scores
    * supplied per-row via `modelRisk` (0 when the ML worker is absent —
    * the `api/app.py:251-257` fallback). One row out per row in. */
  def scoreTransactions(tx: DataFrame,
                        cfg: TxScoringConfig = TxScoringConfig(),
                        modelRisk: Column = lit(0.0)): DataFrame = {
    val prof = tx.groupBy("customer_id").agg(avg("amount").as("cust_avg"))
    val r1 = Scoring.ruleLargeAmount(col("amount"), cfg.largeAmount)
    val r2 = Scoring.ruleCardLocation(col("channel"), col("location"),
                                      cfg.cardChannel, cfg.safeLocations)
    val r3 = Scoring.ruleOddHour(hour(col("timestamp")), cfg.oddHourCutoff)
    Profiles.joinProfiles(tx, prof, "customer_id")
      .transform(Scoring.fuseGateway(Scoring.ruleScore(r1, r2, r3),
        Scoring.deviation(col("amount"), col("cust_avg")), modelRisk,
        col("amount"), cfg.amountHighRisk))
      .select(
        col("transaction_id"), col("amount"),
        round(col("__rule"), 6).as("rule_score"),
        round(col("__dev"), 6).as("deviation_score"),
        round(col("__agg"), 6).as("aggregated_score"),
        Scoring.riskLevel(col("__agg")).as("risk_level"))
  }

  /** Worker-variant fusion (`python_scoring/app.py:188-196`): unclipped
    * additive score, no deviation term, no override/floor. */
  def scoreEventsWorker(spark: SparkSession, sfDir: String,
                        cfg: EventScoringConfig = EventScoringConfig()): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val (r1, r2, r3) = eventRules(cfg)
    ev.withColumn("__rule", Scoring.ruleScore(r1, r2, r3))
      .withColumn("__agg",
        Scoring.fuseWorker(col("__rule"), lit(0.0), lit(0.0), lit(0.0)))
      .select(
        col("event_id"),
        round(col("__rule"), 6).as("rule_score"),
        round(col("__agg"), 6).as("aggregated_score"),
        Scoring.riskLevel(col("__agg")).as("risk_level"))
      .orderBy("event_id")
  }
}
