package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity-profile aggregation + enrichment joins.
  *
  * Reference runs these as one correlated MySQL point-query *per
  * transaction per entity* (`api/app.py:119-146,230,241` — an N+1 pattern,
  * executed twice). The Spark-native form is set-oriented: one hash
  * aggregate per entity table, then a join back onto the fact stream.
  *
  * Scale posture: profile tables are small relative to the fact table
  * (|customers| ≪ |transactions|), so the enrichment join is a broadcast
  * hash join — we hint `broadcast()` on the profile side. At 100 TB with a
  * customer dimension too large to broadcast, remove the hint and bucket
  * both sides on the key; the aggregate itself is partial+final hash agg
  * (map-side combine), so the shuffle carries one row per entity, not per
  * transaction.
  */
object Profiles {

  /** Merchant profile: `SELECT merchant_id, AVG(amount) ... GROUP BY
    * merchant_id` (`api/app.py:132-137`). Unwindowed, like the reference. */
  def merchantProfile(tx: DataFrame, merchantCol: String, amountCol: String): DataFrame =
    tx.groupBy(col(merchantCol))
      .agg(avg(col(amountCol)).as("merch_avg_amount"))

  /** Full-history profile (no window) — used when the data span is shorter
    * than the profile window, which makes the two equivalent (SURVEY §1.3). */
  def customerProfileFull(tx: DataFrame, customerCol: String, amountCol: String): DataFrame =
    tx.groupBy(col(customerCol))
      .agg(avg(col(amountCol)).as("cust_avg_amount"),
           count(lit(1)).as("cust_txn_count"))

  /** Per-tx enrichment: left-join the fact stream to its profiles
    * (replaces the reference's per-row lookups, SURVEY §2.3). The profile
    * side is broadcast — it is an aggregate over entities, orders of
    * magnitude smaller than the fact side. */
  def joinProfiles(tx: DataFrame, custProfile: DataFrame, custKey: String,
                   merchProfile: Option[(DataFrame, String)] = None): DataFrame = {
    val withCust = tx.join(broadcast(custProfile), Seq(custKey), "left")
    merchProfile match {
      case Some((mp, mKey)) => withCust.join(broadcast(mp), Seq(mKey), "left")
      case None             => withCust
    }
  }
}
