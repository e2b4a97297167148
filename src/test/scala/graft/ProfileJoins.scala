package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{Profiles, TimeFeatures}

/** The retired enrichment of the ensemble's events binding: calendar
  * features, then the customer and merchant profiles as two broadcast
  * USING left joins — the reference NativeExprSpec holds
  * `Features.enrichEvents`' profile lookups to, schema and rows. No
  * query path uses it. */
object ProfileJoins {
  def enrichEvents(bound: DataFrame, custProfile: DataFrame,
                   merchProfile: DataFrame): DataFrame =
    Profiles.joinProfiles(TimeFeatures.withTimeFeatures(bound, "ts"),
        custProfile, "user_id", Some((merchProfile, "channel")))
      .withColumn("cust_txn_count", col("cust_txn_count").cast("double"))
}
