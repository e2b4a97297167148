package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, NumericType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Entity-profile aggregation + enrichment.
  *
  * Reference runs these as one correlated MySQL point-query *per
  * transaction per entity* (`api/app.py:119-146,230,241` — an N+1 pattern,
  * executed twice). The Spark-native form is set-oriented: one hash
  * aggregate per entity table, then an enrichment of the fact stream.
  *
  * Two enrichment forms share the aggregates:
  *   - `joinProfiles`, a broadcast left join, for a profile that is a
  *     live DataFrame (the rules paths, whose caller passes it);
  *   - `ProfileTable`, a profile collected once behind the `ProfileRows`
  *     cap and looked up per row by a native expression. A fitted
  *     model holds its profiles this way, so scoring a micro-batch
  *     plans no join and re-runs no aggregate.
  *
  * The aggregate itself is partial+final hash agg (map-side combine), so
  * the shuffle carries one row per entity, not per transaction.
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

  /** Rows one collected profile may hold, as `AnnServe.ShardRows` bounds
    * a serve shard. The lookup state rides the scoring stage's task
    * binary (about 26 B per entity), so a fitted model's profiles
    * cannot exceed this cap. */
  private[graft] val ProfileRows: Int = 1 << 20

  /** A profile aggregate collected once: `schema` is the key column
    * followed by numeric value columns, `rows` the collected rows as the
    * aggregate gave them (kept for `Artifacts.saveEnsemble`). The
    * constructor sorts the non-null keys into the lookup arrays and
    * fails loudly on a key type other than long/string, a non-numeric
    * value column or a duplicate key. The null-key group is left out
    * of the lookup: a join never matches a null key. */
  final case class ProfileTable(name: String, schema: StructType, rows: Array[Row]) {
    require(schema.length >= 2, s"profile $name: need a key and a value column, got $schema")
    val fields: Seq[String] = schema.tail.map(_.name).toSeq
    schema.tail.foreach(f => require(f.dataType.isInstanceOf[NumericType],
      s"profile $name: value column ${f.name} is ${f.dataType}, not numeric"))

    private val (keys, sorted): (AnyRef, Array[Row]) = {
      val keyed = rows.filterNot(_.isNullAt(0))
      schema.head.dataType match {
        case LongType =>
          val s = keyed.sortBy(_.getLong(0)); (s.map(_.getLong(0)), s)
        case StringType =>
          val s = keyed.map(r => (UTF8String.fromString(r.getString(0)), r)).sortBy(_._1)
          (s.map(_._1), s.map(_._2))
        case t => throw new IllegalArgumentException(
          s"profile $name: key column ${schema.head.name} is $t; lookups take long or string keys")
      }
    }
    (1 until sorted.length).foreach(i => require(sorted(i - 1).get(0) != sorted(i).get(0),
      s"profile $name: duplicate key ${sorted(i).get(0)}"))
    // per value column: its null mask and its values as doubles
    private val columns: Seq[(Array[Boolean], Array[Double])] = fields.indices.map { j =>
      (sorted.map(_.isNullAt(j + 1)),
       sorted.map(r => if (r.isNullAt(j + 1)) 0.0 else r.getAs[Number](j + 1).doubleValue))
    }

    /** Each value column looked up by `keyCol`, as doubles, under its
      * own name — the columns a left join on the key would append. */
    def lookup(keyCol: Column): Seq[Column] = {
      import org.apache.spark.sql.graft.Bridge.{column, expression}
      val k = expression(keyCol.cast(schema.head.dataType))
      fields.zip(columns).map { case (f, (nulls, values)) =>
        column(graft.functions.ProfileLookup(k, keys, nulls, values, name, f)).as(f)
      }
    }

    /** The collected rows as a DataFrame again (the artifact form), in
      * the active session. */
    def toDF: DataFrame =
      SparkSession.active.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Collect a profile aggregate into a `ProfileTable`. The cap is
    * checked after the collect: a bounded `limit(cap + 1)` probe would
    * add a job (its partition scan grows 1, 4, … partitions), and
    * `spark.driver.maxResultSize` already stops a runaway collect. */
  def collectProfile(name: String, profile: DataFrame): ProfileTable = {
    val rows = profile.collect()
    requireProfileCap(name, rows.length, ProfileRows)
    ProfileTable(name, profile.schema, rows)
  }

  /** The cap check itself, for a row count already known. */
  private[graft] def requireProfileCap(name: String, rows: Int, cap: Int): Unit =
    require(rows <= cap,
      s"profile $name: $rows rows exceed the cap of $cap — a fitted " +
        "ensemble's profiles are lookup state and cannot exceed it")
}
