package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rule evaluation, score normalization, fusion, and risk labeling.
  *
  * Everything here is pure `Column` arithmetic (no UDFs; the gateway
  * fusion stages it as `withColumn`s), so Catalyst constant-folds the
  * weights and the whole scoring pipeline stays inside one
  * whole-stage-codegen span — this is the reason these are expressions
  * rather than functions over collected rows.
  *
  * Reference: rules `api/app.py:167-179`, normalization
  * `python_scoring/app.py:188-193`, fusion (gateway) `api/app.py:181-187`,
  * fusion (worker, divergent) `python_scoring/app.py:188-196`, risk level
  * `api/app.py:188-193`. Where the two reference variants disagree, the
  * gateway (`api/app.py`) is canonical and the worker ships as an
  * explicitly-named alternative (SURVEY §2.6 `q_aggregate_score`).
  */
object Scoring {

  /** Default weights/thresholds from the reference. */
  val RuleLargeWeight    = 0.6  // api/app.py:170-172
  val RuleLocationWeight = 0.3  // api/app.py:173-175
  val RuleOddHourWeight  = 0.2  // api/app.py:176-178
  val RiskHigh           = 0.7  // api/app.py:188-193
  val RiskMedium         = 0.4

  def clip01(x: Column): Column = least(greatest(x, lit(0.0)), lit(1.0))

  /** `amount > threshold → +w` (`api/app.py:170-172`). */
  def ruleLargeAmount(amount: Column, threshold: Double, w: Double = RuleLargeWeight): Column =
    when(amount > threshold, lit(w)).otherwise(lit(0.0))

  /** `lower(channel)==card && lower(location) not in safe → +w`
    * (`api/app.py:173-175`). */
  def ruleCardLocation(channel: Column, location: Column, cardChannel: String,
                       safeLocations: Seq[String], w: Double = RuleLocationWeight): Column =
    when(lower(channel) === cardChannel.toLowerCase &&
           !lower(location).isin(safeLocations.map(_.toLowerCase): _*),
         lit(w)).otherwise(lit(0.0))

  /** `hour < cutoff → +w` (`api/app.py:176-178`). */
  def ruleOddHour(hour: Column, cutoff: Int = 5, w: Double = RuleOddHourWeight): Column =
    when(hour < cutoff, lit(w)).otherwise(lit(0.0))

  /** Sum of rule contributions capped at 1.0 (`api/app.py:179`). */
  def ruleScore(rules: Column*): Column = least(rules.reduce(_ + _), lit(1.0))

  /** Collected triggered-flag names (gateway collects a list,
    * `api/app.py:170-178`); emitted as a comma-joined string for
    * columnar-friendly output. */
  def ruleFlags(flags: (Column, String)*): Column =
    concat_ws(",", flags.map { case (cond, name) => when(cond, lit(name)) }: _*)

  /** Deviation from customer mean: `(amount - avg)/(avg + 1e-9)` when
    * `avg > 0` else 0 (`api/app.py:243`, `python_scoring/app.py:142`). */
  def deviation(amount: Column, custAvg: Column): Column =
    when(custAvg > 0, (amount - custAvg) / (custAvg + lit(1e-9))).otherwise(lit(0.0))

  /** Inverse-sigmoid normalization `1/(1+exp((x-center)/scale))`
    * (`python_scoring/app.py:189-192`; center = SCORE_THRESHOLD_MED = -0.1,
    * scale = 0.1 in the reference). Monotone decreasing in x. */
  def invSigmoid(x: Column, center: Double = -0.1, scale: Double = 0.1): Column =
    lit(1.0) / (lit(1.0) + exp((x - lit(center)) / lit(scale)))

  /** Autoencoder-score normalization `clip(x/(threshold+1e-9), 0, 1)`
    * (`python_scoring/app.py:193`). */
  def normAe(x: Column, threshold: Column): Column =
    clip01(x / (threshold + lit(1e-9)))

  /** Gateway fusion (`api/app.py:181-187`), canonical, as a staged
    * transform for `df.transform(...)`:
    * model_risk = .4·if + .3·lof + .3·ae (0 when no models score);
    * agg = .45·rule + .4·model_risk + .15·clip(dev/2, 0, 1);
    * override agg = 0.5 if rule ≥ 0.6 ∧ agg < 0.4;
    * floor agg = max(agg, 0.85) if amount ≥ bigAmount.
    * Adds `__rule`, `__dev`, `__mr`, `__base`, `__over` and `__agg`;
    * each caller selects and rounds its own output columns.
    *
    * Staged intermediate columns, NOT one nested expression: fusion
    * references rule/dev/base several times, and inlining them (what a
    * single select would do) blows the codegen'd Project up ~16× —
    * measured 23 s of Janino compile on the flagship. Multi-stage
    * projections keep each expression defined once; CollapseProject
    * leaves non-cheap multiply-referenced aliases alone. */
  def fuseGateway(rule: Column, dev: Column, modelRisk: Column, amount: Column,
                  bigAmount: Double)(df: DataFrame): DataFrame =
    df.withColumn("__rule", rule)
      .withColumn("__dev", dev)
      .withColumn("__mr", modelRisk)
      .withColumn("__base",
        lit(0.45) * col("__rule") + lit(0.4) * col("__mr") +
          lit(0.15) * clip01(col("__dev") / lit(2.0)))
      .withColumn("__over",
        when(col("__rule") >= 0.6 && col("__base") < 0.4, lit(0.5))
          .otherwise(col("__base")))
      .withColumn("__agg",
        when(amount >= bigAmount, greatest(col("__over"), lit(0.85)))
          .otherwise(col("__over")))

  /** Worker fusion (`python_scoring/app.py:188-196`), divergent alt:
    * agg = .4·if + .3·lof + .3·ae + .45·rule (unclipped, can exceed 1). */
  def fuseWorker(rule: Column, scoreIf: Column, scoreLof: Column, scoreAe: Column): Column =
    lit(0.4) * scoreIf + lit(0.3) * scoreLof + lit(0.3) * scoreAe + lit(0.45) * rule

  /** `agg ≥ .7 → High; ≥ .4 → Medium; else Low` (`api/app.py:188-193`). */
  def riskLevel(agg: Column): Column =
    when(agg >= RiskHigh, lit("High"))
      .when(agg >= RiskMedium, lit("Medium"))
      .otherwise(lit("Low"))
}
