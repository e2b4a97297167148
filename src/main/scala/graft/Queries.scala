package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Profiles, Scoring, TimeFeatures, Validate, Windows}
import graft.functions.VectorOps

/** The declared operator inventory (SURVEY.md §2): every entry pairs a
  * Spark implementation with (when SQL-expressible) the ANSI SQL the
  * driver runs in DuckDB over the SAME parquet files. Column names,
  * row order, float rounding (6 dp) and arithmetic shape are kept
  * identical on both sides so the driver's sort-columns-then-hash
  * compare is stable (SURVEY §5.2).
  *
  * Scale posture: every query is a declarative single plan — aggregates
  * are partial+final hash aggs, profile joins broadcast the small
  * aggregated side, top-k is TakeOrderedAndProject, and no query
  * collects to the driver. See Scaladoc per query for the 100 TB note.
  */
object Queries {

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Fixed literal "now" = max(ts) of the table, attached via a
    * broadcast 1-row cross join (never `current_timestamp()`, never a
    * driver-side collect) — deterministic across engines and scales. */
  private def withNow(df: DataFrame, tsCol: String): DataFrame =
    df.crossJoin(broadcast(df.agg(max(col(tsCol)).as("__now"))))

  // ---- shared scoring fragments over `events` (FIXTURES.md §B1 mapping:
  // transaction_id=event_id, customer_id=user_id, amount=value,
  // channel=event_type, location≙props.k) -------------------------------

  private val cfg = Pipelines.EventScoringConfig()

  private def evRules: (Column, Column, Column) = (
    Scoring.ruleLargeAmount(col("value"), cfg.largeAmount),
    when(lower(col("event_type")) === cfg.suspiciousChannel &&
           get_json_object(col("props"), "$.k").cast("int") > cfg.propsKeyThreshold,
         lit(Scoring.RuleLocationWeight)).otherwise(lit(0.0)),
    Scoring.ruleOddHour(hour(col("ts")), cfg.oddHourCutoff))

  private val sqlRules =
    """CASE WHEN value > 100.0 THEN 0.6 ELSE 0.0 END
      | + CASE WHEN lower(event_type) = 'purchase' AND CAST(json_extract_string(props, '$.k') AS INT) > 80 THEN 0.3 ELSE 0.0 END
      | + CASE WHEN hour(ts) < 5 THEN 0.2 ELSE 0.0 END""".stripMargin.replace("\n", "")

  // =====================================================================
  // §2.4 Aggregations
  // =====================================================================

  /** 90-day customer profile agg (`api/app.py:123-128`). Shuffle carries
    * one row per customer (map-side partial agg); the 90-day filter is
    * pushed to the parquet scan. At 100 TB: date-partitioned layout makes
    * the window filter a partition-pruning predicate. */
  private val qAggCustomerProfile = Q(
    "q_agg_customer_profile",
    (s, d) => {
      val o = withNow(Tables.orders(s, d), "o_orderdate")
      o.filter(col("o_orderdate") >= col("__now") - expr("INTERVAL 90 DAYS"))
        .groupBy(col("o_custkey"))
        .agg(round(avg("o_totalprice"), 6).as("cust_avg_amount"),
             count(lit(1)).as("cust_txn_count"))
        .select(col("o_custkey").as("customer_id"), col("cust_avg_amount"),
                col("cust_txn_count"))
        .orderBy("customer_id")
    },
    Some("""SELECT o_custkey AS customer_id,
           | round(avg(o_totalprice), 6) AS cust_avg_amount,
           | count(*) AS cust_txn_count
           |FROM orders
           |WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 90 DAY
           |GROUP BY o_custkey ORDER BY customer_id""".stripMargin))

  /** Profile + tx/day frequency (`python_scoring/app.py:121-125`). */
  private val qAggCustomerFreq = Q(
    "q_agg_customer_freq",
    (s, d) => {
      val o = withNow(Tables.orders(s, d), "o_orderdate")
      o.filter(col("o_orderdate") >= col("__now") - expr("INTERVAL 90 DAYS"))
        .groupBy(col("o_custkey"))
        .agg(round(avg("o_totalprice"), 6).as("cust_avg_amount"),
             count(lit(1)).as("cust_txn_count"),
             round(count(lit(1)) / lit(90.0), 6).as("cust_freq"))
        .select(col("o_custkey").as("customer_id"), col("cust_avg_amount"),
                col("cust_txn_count"), col("cust_freq"))
        .orderBy("customer_id")
    },
    Some("""SELECT o_custkey AS customer_id,
           | round(avg(o_totalprice), 6) AS cust_avg_amount,
           | count(*) AS cust_txn_count,
           | round(count(*) / 90.0, 6) AS cust_freq
           |FROM orders
           |WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 90 DAY
           |GROUP BY o_custkey ORDER BY customer_id""".stripMargin))

  /** Merchant profile agg (`api/app.py:132-137`) on lineitem/supplier. */
  private val qAggMerchantProfile = Q(
    "q_agg_merchant_profile",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"))
        .agg(round(avg("l_extendedprice"), 6).as("merch_avg_amount"))
        .select(col("l_suppkey").as("merchant_id"), col("merch_avg_amount"))
        .orderBy("merchant_id"),
    Some("""SELECT l_suppkey AS merchant_id,
           | round(avg(l_extendedprice), 6) AS merch_avg_amount
           |FROM lineitem GROUP BY l_suppkey ORDER BY merchant_id""".stripMargin))

  // =====================================================================
  // §2.2 Projections / filters
  // =====================================================================

  /** Validity filter (`train.py:39,60`, `api/app.py:49-53`,
    * `python_scoring/app.py:69-79`). Predicate is codegen'd and pushed
    * toward the scan (null/>=0 parts reach parquet). */
  private val qFilterValid = Q(
    "q_filter_valid",
    (s, d) =>
      Validate.filterValid(Tables.events(s, d), "ts", "value", "event_id")
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type, value FROM events
           |WHERE ts IS NOT NULL AND value IS NOT NULL AND value >= 0
           | AND regexp_matches(CAST(event_id AS VARCHAR), '^[0-9]+$')
           |ORDER BY event_id""".stripMargin))

  /** Model-input projection (`train.py:56-62`): column pruning reaches
    * the parquet ReadSchema — only these columns are read. */
  private val qProjectFeatures = Q(
    "q_project_features",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey").as("transaction_id"),
                col("o_custkey").as("customer_id"),
                col("o_totalprice").as("amount"),
                col("o_orderpriority").as("channel"))
        .orderBy("transaction_id"),
    Some("""SELECT o_orderkey AS transaction_id, o_custkey AS customer_id,
           | o_totalprice AS amount, o_orderpriority AS channel
           |FROM orders ORDER BY transaction_id""".stripMargin))

  /** Missing-value defaults (`train.py:49-53`, `api/app.py:163-164`):
    * absent JSON key → 0.0, empty categorical → sentinel. */
  private val qFillnaZero = Q(
    "q_fillna_zero",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                coalesce(get_json_object(col("props"), "$.m").cast("double"),
                         lit(0.0)).as("m_filled"),
                coalesce(nullif(col("event_type"), lit("")), lit("unknown"))
                  .as("channel_filled"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
           | coalesce(CAST(json_extract_string(props, '$.m') AS DOUBLE), 0.0) AS m_filled,
           | coalesce(nullif(event_type, ''), 'unknown') AS channel_filled
           |FROM events ORDER BY event_id""".stripMargin))

  /** Error-channel split (`api/app.py:262-263`): invalid rows become
    * `{transaction_id, error}` stubs; the batch never throws per-row.
    * (The driver testdata is clean, so both sides yield the same empty
    * set — the unit tests exercise the non-empty path.) */
  private val qValidateErrors = Q(
    "q_validate_errors",
    (s, d) => {
      val (_, errors) = Validate.splitValid(Tables.events(s, d), "ts", "value", "event_id")
      errors.orderBy("transaction_id")
    },
    Some("""SELECT CAST(event_id AS VARCHAR) AS transaction_id,
           | CASE WHEN ts IS NULL THEN 'missing timestamp'
           |      WHEN value IS NULL THEN 'missing amount'
           |      WHEN value < 0 THEN 'negative amount'
           |      ELSE 'non-numeric id' END AS error
           |FROM events
           |WHERE NOT (ts IS NOT NULL AND value IS NOT NULL AND value >= 0
           |           AND regexp_matches(CAST(event_id AS VARCHAR), '^[0-9]+$'))
           |ORDER BY transaction_id""".stripMargin))

  // =====================================================================
  // §2.6 Scalar functions
  // =====================================================================

  /** Calendar features (`train.py:38-43`) — NB pandas dayofweek
    * (Monday=0) ≡ Spark `weekday` ≡ DuckDB `isodow - 1` (SURVEY §2.6). */
  private val qTimeFeatures = Q(
    "q_time_features",
    (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey").as("transaction_id"),
                TimeFeatures.yearCol(col("o_orderdate")).as("year"),
                TimeFeatures.monthCol(col("o_orderdate")).as("month"),
                TimeFeatures.dayOfWeekCol(col("o_orderdate")).as("day_of_week"),
                TimeFeatures.hourCol(col("o_orderdate")).as("hour"))
        .orderBy("transaction_id"),
    Some("""SELECT o_orderkey AS transaction_id,
           | CAST(year(o_orderdate) AS INT) AS year,
           | CAST(month(o_orderdate) AS INT) AS month,
           | CAST(isodow(o_orderdate) - 1 AS INT) AS day_of_week,
           | CAST(hour(o_orderdate) AS INT) AS hour
           |FROM orders ORDER BY transaction_id""".stripMargin))

  /** Rule evaluation (`api/app.py:167-179`) with the flag list collected
    * as a comma-joined string. Pure `Column` arithmetic — constant-folded
    * weights, single codegen span. */
  private val qRuleScore = Q(
    "q_rule_score",
    (s, d) => {
      val (r1, r2, r3) = evRules
      Tables.events(s, d)
        .select(col("event_id"),
                round(Scoring.ruleScore(r1, r2, r3), 6).as("rule_score"),
                Scoring.ruleFlags(
                  (r1 > 0.0) -> "large_amount",
                  (r2 > 0.0) -> "suspicious_channel",
                  (r3 > 0.0) -> "odd_hour").as("flags"))
        .orderBy("event_id")
    },
    Some(s"""SELECT event_id,
            | round(least($sqlRules, 1.0), 6) AS rule_score,
            | concat_ws(',',
            |   CASE WHEN value > 100.0 THEN 'large_amount' END,
            |   CASE WHEN lower(event_type) = 'purchase' AND CAST(json_extract_string(props, '$$.k') AS INT) > 80 THEN 'suspicious_channel' END,
            |   CASE WHEN hour(ts) < 5 THEN 'odd_hour' END) AS flags
            |FROM events ORDER BY event_id""".stripMargin))

  /** Deviation from customer mean (`api/app.py:243`): profile agg +
    * broadcast join + pure expression. */
  private val qDeviation = Q(
    "q_deviation",
    (s, d) => {
      val ev = Tables.events(s, d)
      val prof = ev.groupBy("user_id").agg(avg("value").as("cust_avg"))
      Profiles.joinProfiles(ev, prof, "user_id")
        .select(col("event_id"),
                round(Scoring.deviation(col("value"), col("cust_avg")), 6)
                  .as("deviation_score"))
        .orderBy("event_id")
    },
    Some("""WITH prof AS (SELECT user_id, avg(value) AS cust_avg FROM events GROUP BY user_id)
           |SELECT e.event_id,
           | round(CASE WHEN p.cust_avg > 0 THEN (e.value - p.cust_avg) / (p.cust_avg + 1e-9) ELSE 0.0 END, 6) AS deviation_score
           |FROM events e LEFT JOIN prof p USING (user_id)
           |ORDER BY e.event_id""".stripMargin))

  /** Inverse-sigmoid normalization (`python_scoring/app.py:189-192`),
    * center=-0.1 scale=0.1, over a shifted amount. */
  private val qInvSigmoid = Q(
    "q_inv_sigmoid",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
                round(Scoring.invSigmoid((col("value") - lit(50.0)) / lit(100.0)), 6)
                  .as("norm_score"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
           | round(1.0 / (1.0 + exp((((value - 50.0) / 100.0) - (-0.1)) / 0.1)), 6) AS norm_score
           |FROM events ORDER BY event_id""".stripMargin))

  /** AE-score normalization clip(x/(t+1e-9),0,1) (`python_scoring/
    * app.py:193`), threshold = P97.5 computed as a 1-row broadcast agg. */
  private val qNormAe = Q(
    "q_norm_ae",
    (s, d) => {
      val ev = Tables.events(s, d)
      val thr = ev.agg(expr("percentile(value, 0.975)").as("__thr"))
      ev.crossJoin(broadcast(thr))
        .select(col("event_id"),
                round(Scoring.normAe(col("value"), col("__thr")), 6).as("norm_ae"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
           | round(least(greatest(value / ((SELECT quantile_cont(value, 0.975) FROM events) + 1e-9), 0.0), 1.0), 6) AS norm_ae
           |FROM events ORDER BY event_id""".stripMargin))

  /** Missing-timestamp feature defaults (`api/app.py:156-159`, SURVEY
    * §2.9): rows whose timestamp failed to parse still score, with
    * calendar features zeroed. The testdata has no bad timestamps, so
    * half the rows simulate one (even ids → null ts). */
  private val qTimeFeatureDefaults = Q(
    "q_time_feature_defaults",
    (s, d) => {
      val masked = Tables.events(s, d)
        .withColumn("ts", when(col("event_id") % 2 === 1, col("ts")))
      operators.TimeFeatures.withTimeFeatureDefaults(masked, "ts")
        .select("event_id", "year", "month", "day_of_week", "hour")
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
           | CAST(coalesce(year(CASE WHEN event_id % 2 = 1 THEN ts END), 0) AS INT) AS year,
           | CAST(coalesce(month(CASE WHEN event_id % 2 = 1 THEN ts END), 0) AS INT) AS month,
           | CAST(coalesce(isodow(CASE WHEN event_id % 2 = 1 THEN ts END) - 1, 0) AS INT) AS day_of_week,
           | CAST(coalesce(hour(CASE WHEN event_id % 2 = 1 THEN ts END), 0) AS INT) AS hour
           |FROM events ORDER BY event_id""".stripMargin))

  /** Risk labeling (`api/app.py:188-193`) on the worker-variant fusion
    * (`python_scoring/app.py:188-196`, models=0 → 0.45·rule). */
  private val qFuseWorker = Q(
    "q_fuse_worker",
    (s, d) => Pipelines.scoreEventsWorker(s, d),
    Some(s"""SELECT event_id,
            | round(least($sqlRules, 1.0), 6) AS rule_score,
            | round(0.4 * 0.0 + 0.3 * 0.0 + 0.3 * 0.0 + 0.45 * least($sqlRules, 1.0), 6) AS aggregated_score,
            | CASE WHEN 0.4 * 0.0 + 0.3 * 0.0 + 0.3 * 0.0 + 0.45 * least($sqlRules, 1.0) >= 0.7 THEN 'High'
            |      WHEN 0.4 * 0.0 + 0.3 * 0.0 + 0.3 * 0.0 + 0.45 * least($sqlRules, 1.0) >= 0.4 THEN 'Medium'
            |      ELSE 'Low' END AS risk_level
            |FROM events ORDER BY event_id""".stripMargin))

  // =====================================================================
  // Flagship: full gateway scoring path (§7.1) — entry()
  // =====================================================================

  // lazy: referenced by queries declared both above and below this point
  private lazy val flagshipOracle: String = {
    val rule = s"least($sqlRules, 1.0)"
    val dev = "CASE WHEN p.cust_avg > 0 THEN (e.value - p.cust_avg) / (p.cust_avg + 1e-9) ELSE 0.0 END"
    val base = s"0.45 * $rule + 0.4 * (0.4 * 0.0 + 0.3 * 0.0 + 0.3 * 0.0) + 0.15 * least(greatest(($dev) / 2.0, 0.0), 1.0)"
    val over = s"CASE WHEN $rule >= 0.6 AND ($base) < 0.4 THEN 0.5 ELSE $base END"
    val agg = s"CASE WHEN e.value >= 250.0 THEN greatest($over, 0.85) ELSE $over END"
    s"""WITH prof AS (SELECT user_id, avg(value) AS cust_avg FROM events GROUP BY user_id)
       |SELECT e.event_id,
       | round($rule, 6) AS rule_score,
       | round($dev, 6) AS deviation_score,
       | round($agg, 6) AS aggregated_score,
       | CASE WHEN ($agg) >= 0.7 THEN 'High' WHEN ($agg) >= 0.4 THEN 'Medium' ELSE 'Low' END AS risk_level
       |FROM events e LEFT JOIN prof p USING (user_id)
       |ORDER BY e.event_id""".stripMargin
  }

  /** The reference's entire non-ML scoring path as ONE declarative plan
    * (SURVEY §3.2 rewrite): profile agg (1 shuffle) → broadcast join →
    * rules/deviation/fusion/risk in a single codegen span. */
  private val qFlagship = Q(
    "q_flagship_score",
    (s, d) => Pipelines.scoreEvents(s, d),
    Some(flagshipOracle))

  /** `q_join_scores` (SURVEY §2.3): the reference zips request rows
    * with ML-worker score rows POSITIONALLY (`api/app.py:234` —
    * order-dependent and unsafe); re-expressed as a keyed equi-join on
    * the transaction id. The score side is the flagship output; the
    * join returns every event enriched with its score row. At scale
    * both sides share the id key, so AQE picks broadcast or sort-merge
    * by size — no ordering assumption anywhere. */
  private val qJoinScores = Q(
    "q_join_scores",
    (s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
      val scores = Pipelines.scoreEvents(s, d)
        .select("event_id", "aggregated_score", "risk_level")
      ev.join(scores, Seq("event_id"))
        .orderBy("event_id")
    },
    Some(s"""WITH scores AS ($flagshipOracle)
            |SELECT e.event_id, e.user_id, e.event_type, e.value,
            |       s.aggregated_score, s.risk_level
            |FROM events e JOIN scores s ON e.event_id = s.event_id
            |ORDER BY e.event_id""".stripMargin))

  /** Second flagship binding — the FIXTURES §B1 transactions mapping
    * over the orders/customer star: amount=o_totalprice,
    * channel=o_orderpriority, location=c_mktsegment (via a broadcast
    * customer join), profile = full-history per-custkey aggregate.
    * Exercises a 3-way join + agg + the full rule/fusion/risk chain on
    * a different table shape than the events flagship. */
  private val qFlagshipOrders = Q(
    "q_flagship_orders",
    (s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      val prof = o.groupBy("o_custkey").agg(avg("o_totalprice").as("cust_avg"))
      val joined = o
        .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
        .join(broadcast(prof), Seq("o_custkey"), "left")
      val r1 = Scoring.ruleLargeAmount(col("o_totalprice"), 300000.0)
      val r2 = Scoring.ruleCardLocation(col("o_orderpriority"), col("c_mktsegment"),
                                        "1-urgent", Seq("BUILDING", "AUTOMOBILE"))
      val r3 = when(month(col("o_orderdate")) <= 2, lit(0.2)).otherwise(lit(0.0))
      joined
        .withColumn("__rule", Scoring.ruleScore(r1, r2, r3))
        .withColumn("__dev", Scoring.deviation(col("o_totalprice"), col("cust_avg")))
        .withColumn("__base",
          lit(0.45) * col("__rule") + lit(0.4) * (lit(0.4) * lit(0.0) + lit(0.3) * lit(0.0) + lit(0.3) * lit(0.0)) +
            lit(0.15) * Scoring.clip01(col("__dev") / lit(2.0)))
        .withColumn("__over",
          when(col("__rule") >= 0.6 && col("__base") < 0.4, lit(0.5)).otherwise(col("__base")))
        .withColumn("__agg",
          when(col("o_totalprice") >= 450000.0, greatest(col("__over"), lit(0.85)))
            .otherwise(col("__over")))
        .select(col("o_orderkey").as("transaction_id"),
                round(col("__rule"), 6).as("rule_score"),
                round(col("__dev"), 6).as("deviation_score"),
                round(col("__agg"), 6).as("aggregated_score"),
                Scoring.riskLevel(col("__agg")).as("risk_level"))
        .orderBy("transaction_id")
    },
    Some {
      val rule = """least(CASE WHEN o.o_totalprice > 300000.0 THEN 0.6 ELSE 0.0 END
                   | + CASE WHEN lower(o.o_orderpriority) = '1-urgent' AND lower(c.c_mktsegment) NOT IN ('building', 'automobile') THEN 0.3 ELSE 0.0 END
                   | + CASE WHEN month(o.o_orderdate) <= 2 THEN 0.2 ELSE 0.0 END, 1.0)""".stripMargin.replace("\n", "")
      val dev = "CASE WHEN p.cust_avg > 0 THEN (o.o_totalprice - p.cust_avg) / (p.cust_avg + 1e-9) ELSE 0.0 END"
      val base = s"0.45 * $rule + 0.4 * (0.4 * 0.0 + 0.3 * 0.0 + 0.3 * 0.0) + 0.15 * least(greatest(($dev) / 2.0, 0.0), 1.0)"
      val over = s"CASE WHEN $rule >= 0.6 AND ($base) < 0.4 THEN 0.5 ELSE $base END"
      val agg = s"CASE WHEN o.o_totalprice >= 450000.0 THEN greatest($over, 0.85) ELSE $over END"
      s"""WITH prof AS (SELECT o_custkey, avg(o_totalprice) AS cust_avg FROM orders GROUP BY o_custkey)
         |SELECT o.o_orderkey AS transaction_id,
         | round($rule, 6) AS rule_score,
         | round($dev, 6) AS deviation_score,
         | round($agg, 6) AS aggregated_score,
         | CASE WHEN ($agg) >= 0.7 THEN 'High' WHEN ($agg) >= 0.4 THEN 'Medium' ELSE 'Low' END AS risk_level
         |FROM orders o
         |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         |LEFT JOIN prof p ON o.o_custkey = p.o_custkey
         |ORDER BY transaction_id""".stripMargin
    })

  // =====================================================================
  // §2.5 Window functions
  // =====================================================================

  /** pandas groupby-transform('mean') (`train.py:47-53`): unbounded
    * window — one shuffle on the key, no sort needed. */
  private val qWinCustAvg = Q(
    "q_win_cust_avg",
    (s, d) =>
      Windows.withGroupMean(Tables.orders(s, d), "o_custkey", "o_totalprice", "cust_avg_amount")
        .select(col("o_orderkey").as("transaction_id"),
                col("o_custkey").as("customer_id"),
                round(col("cust_avg_amount"), 6).as("cust_avg_amount"))
        .orderBy("transaction_id"),
    Some("""SELECT o_orderkey AS transaction_id, o_custkey AS customer_id,
           | round(avg(o_totalprice) OVER (PARTITION BY o_custkey), 6) AS cust_avg_amount
           |FROM orders ORDER BY transaction_id""".stripMargin))

  private val qWinCustCount = Q(
    "q_win_cust_count",
    (s, d) =>
      Windows.withGroupCount(Tables.orders(s, d), "o_custkey", "cust_txn_count")
        .select(col("o_orderkey").as("transaction_id"),
                col("o_custkey").as("customer_id"), col("cust_txn_count"))
        .orderBy("transaction_id"),
    Some("""SELECT o_orderkey AS transaction_id, o_custkey AS customer_id,
           | count(*) OVER (PARTITION BY o_custkey) AS cust_txn_count
           |FROM orders ORDER BY transaction_id""".stripMargin))

  private val qWinMerchAvg = Q(
    "q_win_merch_avg",
    (s, d) =>
      Windows.withGroupMean(Tables.lineitem(s, d), "l_suppkey", "l_extendedprice", "merch_avg_amount")
        .select(col("l_orderkey"), col("l_linenumber"),
                col("l_suppkey").as("merchant_id"),
                round(col("merch_avg_amount"), 6).as("merch_avg_amount"))
        // (l_orderkey, l_linenumber) is NOT unique in the testdata —
        // order by every output column so ties are engine-stable.
        .orderBy("l_orderkey", "l_linenumber", "merchant_id"),
    Some("""SELECT l_orderkey, l_linenumber, l_suppkey AS merchant_id,
           | round(avg(l_extendedprice) OVER (PARTITION BY l_suppkey), 6) AS merch_avg_amount
           |FROM lineitem ORDER BY l_orderkey, l_linenumber, merchant_id""".stripMargin))

  /** Latest-per-key dedup (SURVEY §2.5 q_win_dedup): row_number over
    * (key, ts desc, tiebreak desc) = 1. One shuffle + per-partition sort;
    * at scale the same partitioning serves any later key-join. */
  private val qWinDedup = Q(
    "q_win_dedup",
    (s, d) => {
      // (ts, linenumber) ties exist in the testdata → extend the window
      // ordering to cover every output column, making the picked row's
      // visible tuple the lexicographic max — engine-stable even when
      // row_number's choice among full ties is not.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_shipdate").desc, col("l_linenumber").desc,
                 col("l_suppkey").desc, col("l_extendedprice").desc)
      Tables.lineitem(s, d)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
                col("l_suppkey"), col("l_extendedprice"))
        .orderBy("l_orderkey")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_shipdate, l_suppkey, l_extendedprice FROM (
           | SELECT l_orderkey, l_linenumber, l_shipdate, l_suppkey, l_extendedprice,
           |  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate DESC, l_linenumber DESC, l_suppkey DESC, l_extendedprice DESC) AS rn
           | FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin))

  // =====================================================================
  // §2.7 Top-k
  // =====================================================================

  /** `ORDER BY score DESC LIMIT k` → TakeOrderedAndProject (k per
    * partition, merged on the driver — no full sort at any scale).
    * Ordered on the ROUNDED score + unique id so the cutoff is
    * engine-stable. */
  private val qTopkRisky = Q(
    "q_topk_risky",
    (s, d) =>
      Pipelines.scoreEvents(s, d)
        .orderBy(col("aggregated_score").desc, col("event_id").asc)
        .limit(100),
    Some(s"""SELECT * FROM ($flagshipOracle) ORDER BY aggregated_score DESC, event_id ASC LIMIT 100"""))

  // =====================================================================
  // §2.4 q_rowwise_mse + q_ae_threshold (array math, no UDFs)
  // =====================================================================

  /** Per-row reconstruction MSE (`model_wrapper.py:44-49`) via
    * zip_with/aggregate — fully codegen'd, no UDF. Reconstruction stand-in
    * is the reversed vector (deterministic, non-trivial). */
  private val qRowwiseMse = Q(
    "q_rowwise_mse",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
                round(VectorOps.rowwiseMse(col("embedding"), reverse(col("embedding"))), 6)
                  .as("mse"))
        .orderBy("vec_id"),
    Some("""SELECT vec_id,
           | round(list_sum(list_transform(list_zip(embedding, list_reverse(embedding)),
           |   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
           |  / CAST(len(embedding) AS DOUBLE), 6) AS mse
           |FROM embeddings ORDER BY vec_id""".stripMargin))

  /** P97.5 anomaly threshold (`train.py:86-88`) — exact percentile
    * (matches DuckDB quantile_cont's linear interpolation). */
  private val qAeThreshold = Q(
    "q_ae_threshold",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(VectorOps.rowwiseMse(col("embedding"), reverse(col("embedding"))).as("mse"))
        .agg(round(expr("percentile(mse, 0.975)"), 6).as("ae_threshold")),
    Some("""SELECT round(quantile_cont(mse, 0.975), 6) AS ae_threshold FROM (
           | SELECT list_sum(list_transform(list_zip(embedding, list_reverse(embedding)),
           |   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
           |  / CAST(len(embedding) AS DOUBLE) AS mse FROM embeddings)""".stripMargin))

  /** The 100 TB form of the threshold fit (rows-only): Spark's
    * `approx_percentile` sketch — constant-size mergeable partials
    * instead of the exact percentile's full-column sort, the same
    * trade HLL makes for distinct counts. No SQL oracle (the sketch
    * is engine-private, like HLL/Bloom before their twins); MlSpec
    * bounds its error against the exact threshold, and
    * `q_ae_threshold_sample` below is its engine-portable proof
    * twin. */
  private val qAeThresholdApprox = Q(
    "q_ae_threshold_approx",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(VectorOps.rowwiseMse(col("embedding"), reverse(col("embedding"))).as("mse"))
        .agg(round(expr("approx_percentile(mse, 0.975, 10000)"), 6)
          .as("ae_threshold")),
    None)

  /** md5-portable SAMPLED-QUANTILE twin (FULL oracle) — the md5-twin
    * pattern applied to the last sketch family, quantiles: the exact
    * percentile over a deterministic 25% md5-coin sample (the same
    * `substr(md5(id),1,8)` coin `mixDomains`/`dsirSelect` use), so
    * the coin, the sample membership AND the interpolated quantile
    * are all DuckDB-re-derivable. This is the bounded-fit posture the
    * engine already applies to BPE (`sampleFraction`) stated for
    * threshold fitting: fit on a sample whose size you control, serve
    * corpus-wide. `approx_percentile` stays the production sketch. */
  private val qAeThresholdSample = Q(
    "q_ae_threshold_sample",
    (s, d) =>
      Tables.embeddings(s, d)
        .filter(substring(md5(col("vec_id").cast("string").cast("binary")), 1, 8)
          < lit("40000000"))
        .select(VectorOps.rowwiseMse(col("embedding"), reverse(col("embedding"))).as("mse"))
        .agg(round(expr("percentile(mse, 0.975)"), 6).as("ae_threshold")),
    Some("""SELECT round(quantile_cont(mse, 0.975), 6) AS ae_threshold FROM (
           | SELECT list_sum(list_transform(list_zip(embedding, list_reverse(embedding)),
           |   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))
           |  / CAST(len(embedding) AS DOUBLE) AS mse FROM embeddings
           | WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < '40000000')""".stripMargin))

  // =====================================================================
  // §2.8 ML operators (rows-only checks — not SQL-expressible, except
  // the scaler fit which is a plain aggregate)
  // =====================================================================

  /** StandardScaler fit = per-column mean/σ_pop (`preprocessing.py:
    * 13-15`; sklearn divides by n). One distributed aggregate. */
  private val qScalerFit = Q(
    "q_scaler_fit",
    (s, d) =>
      Tables.orders(s, d).agg(
        round(avg("o_totalprice"), 6).as("mean_amount"),
        round(stddev_pop("o_totalprice"), 6).as("std_amount"),
        round(avg("o_custkey"), 6).as("mean_custkey"),
        round(stddev_pop("o_custkey"), 6).as("std_custkey")),
    Some("""SELECT round(avg(o_totalprice), 6) AS mean_amount,
           | round(stddev_pop(o_totalprice), 6) AS std_amount,
           | round(avg(o_custkey), 6) AS mean_custkey,
           | round(stddev_pop(o_custkey), 6) AS std_custkey
           |FROM orders""".stripMargin))

  /** ColumnTransformer-equivalent preprocessing (SURVEY §2.8
    * `ml_preproc`): scaled numerics ++ one-hot. Exposed EXPLODED to
    * (event_id, dim_idx, value) scalars — the driver's rows-only check
    * sorts output columns, and an array<double> column is unsortable in
    * its pandas harness (the r1 red row). Every dimension is still
    * checked, one per row — and the whole fit+transform (enrichment,
    * profile joins, population-σ scaling, sorted-vocab one-hot) is now
    * ORACLE-CHECKED: the SQL below rebuilds the identical pipeline,
    * deriving each one-hot dimension index from a row_number over the
    * distinct sorted vocabulary (numerics are dims 0-7, channel vocab
    * follows, location vocab after that — `PreprocModel.featureNames`
    * order). */
  private val qMlPreproc = Q(
    "ml_preproc",
    (s, d) => {
      val (_, feats) = ml.Features.preprocessedEvents(s, d)
      feats.select(col("event_id"), posexplode(col("features")))
        .select(col("event_id"), col("pos").as("dim_idx"),
                round(col("col"), 6).as("value"))
        .orderBy("event_id", "dim_idx")
    },
    Some("""WITH enr AS (
           | SELECT event_id, user_id,
           |  value AS amount,
           |  event_type AS channel,
           |  'zone_' || CAST(CAST(floor(CAST(json_extract_string(props, '$.k') AS INT) / 25.0) AS INT) AS VARCHAR) AS location,
           |  CAST(year(ts) AS INT) AS year, CAST(month(ts) AS INT) AS month,
           |  CAST(isodow(ts) - 1 AS INT) AS day_of_week, CAST(hour(ts) AS INT) AS hour
           | FROM events),
           |prof_c AS (SELECT user_id, avg(amount) AS cust_avg_amount,
           |                  CAST(count(*) AS DOUBLE) AS cust_txn_count
           |           FROM enr GROUP BY user_id),
           |prof_m AS (SELECT channel, avg(amount) AS merch_avg_amount
           |           FROM enr GROUP BY channel),
           |f AS (SELECT e.*, p.cust_avg_amount, p.cust_txn_count, m.merch_avg_amount
           |      FROM enr e LEFT JOIN prof_c p USING (user_id)
           |                 LEFT JOIN prof_m m USING (channel)),
           |st AS (SELECT
           |  avg(amount) AS m0, CASE WHEN coalesce(stddev_pop(amount), 0) = 0 THEN 1 ELSE stddev_pop(amount) END AS s0,
           |  avg(year) AS m1, CASE WHEN coalesce(stddev_pop(year), 0) = 0 THEN 1 ELSE stddev_pop(year) END AS s1,
           |  avg(month) AS m2, CASE WHEN coalesce(stddev_pop(month), 0) = 0 THEN 1 ELSE stddev_pop(month) END AS s2,
           |  avg(day_of_week) AS m3, CASE WHEN coalesce(stddev_pop(day_of_week), 0) = 0 THEN 1 ELSE stddev_pop(day_of_week) END AS s3,
           |  avg(hour) AS m4, CASE WHEN coalesce(stddev_pop(hour), 0) = 0 THEN 1 ELSE stddev_pop(hour) END AS s4,
           |  avg(cust_avg_amount) AS m5, CASE WHEN coalesce(stddev_pop(cust_avg_amount), 0) = 0 THEN 1 ELSE stddev_pop(cust_avg_amount) END AS s5,
           |  avg(cust_txn_count) AS m6, CASE WHEN coalesce(stddev_pop(cust_txn_count), 0) = 0 THEN 1 ELSE stddev_pop(cust_txn_count) END AS s6,
           |  avg(merch_avg_amount) AS m7, CASE WHEN coalesce(stddev_pop(merch_avg_amount), 0) = 0 THEN 1 ELSE stddev_pop(merch_avg_amount) END AS s7
           | FROM f),
           |num AS (
           | SELECT event_id, 0 AS dim_idx, (coalesce(amount, 0) - st.m0) / st.s0 AS v FROM f, st
           | UNION ALL SELECT event_id, 1, (coalesce(year, 0) - st.m1) / st.s1 FROM f, st
           | UNION ALL SELECT event_id, 2, (coalesce(month, 0) - st.m2) / st.s2 FROM f, st
           | UNION ALL SELECT event_id, 3, (coalesce(day_of_week, 0) - st.m3) / st.s3 FROM f, st
           | UNION ALL SELECT event_id, 4, (coalesce(hour, 0) - st.m4) / st.s4 FROM f, st
           | UNION ALL SELECT event_id, 5, (coalesce(cust_avg_amount, 0) - st.m5) / st.s5 FROM f, st
           | UNION ALL SELECT event_id, 6, (coalesce(cust_txn_count, 0) - st.m6) / st.s6 FROM f, st
           | UNION ALL SELECT event_id, 7, (coalesce(merch_avg_amount, 0) - st.m7) / st.s7 FROM f, st),
           |vc AS (SELECT v, CAST(7 + row_number() OVER (ORDER BY v) AS INT) AS dim_idx
           |       FROM (SELECT DISTINCT coalesce(CAST(channel AS VARCHAR), '') AS v FROM f)),
           |vl AS (SELECT v, CAST(7 + (SELECT count(*) FROM vc) + row_number() OVER (ORDER BY v) AS INT) AS dim_idx
           |       FROM (SELECT DISTINCT coalesce(CAST(location AS VARCHAR), '') AS v FROM f)),
           |ohc AS (SELECT f.event_id, vc.dim_idx,
           |               CASE WHEN coalesce(CAST(f.channel AS VARCHAR), '') = vc.v THEN 1.0 ELSE 0.0 END AS v
           |        FROM f CROSS JOIN vc),
           |ohl AS (SELECT f.event_id, vl.dim_idx,
           |               CASE WHEN coalesce(CAST(f.location AS VARCHAR), '') = vl.v THEN 1.0 ELSE 0.0 END AS v
           |        FROM f CROSS JOIN vl),
           |allrows AS (SELECT * FROM num UNION ALL SELECT * FROM ohc UNION ALL SELECT * FROM ohl)
           |SELECT event_id, CAST(dim_idx AS INT) AS dim_idx, round(v, 6) AS value
           |FROM allrows ORDER BY event_id, dim_idx""".stripMargin))

  /** PCA reconstruction-error anomaly score (AE substitute, §2.8). */
  private val qMlPcaRecon = Q(
    "ml_pca_recon",
    (s, d) => {
      val (_, feats) = ml.Features.preprocessedEvents(s, d)
      val model = ml.PcaRecon.fit(feats, "features", 8)
      feats.select(col("event_id"),
                   round(model.scoreCol(col("features")), 6).as("score_ae"))
        .orderBy("event_id")
    },
    None)

  /** Isolation-forest decision scores (custom trainer, §2.8). */
  private val qMlIforest = Q(
    "ml_iforest",
    (s, d) => {
      val (_, feats) = ml.Features.preprocessedEvents(s, d)
      val model = ml.IsolationForest.fit(feats, "features")
      feats.select(col("event_id"),
                   round(model.decisionCol(col("features")), 6).as("score_iforest"))
        .orderBy("event_id")
    },
    None)

  /** LOF over the FULL events feature slice (§2.8) — the reference's
    * actual configuration (sklearn `novelty=True`, `train.py:76`):
    * a bounded-reference novelty model is fit once (≤2000 hash-ordered
    * reference points, constant-size driver state like every other
    * fit) and EVERY row scores against it — full coverage by
    * construction, linear cost, streaming-safe. The transductive
    * LSH-kNN variant stays declared as `ml_lof_lsh`; it is NOT used
    * here because measured on this slice it is two orders costlier
    * (one-hot-dense regions make LSH buckets quadratic: 10–220 s at
    * sf0.1 vs ~2 s for the novelty scorer, r7 probe) and can drop
    * uncovered points. Exact-vs-novelty and exact-vs-LSH agreement
    * are pinned as MlSpec floors on a full slice. */
  private val qMlLof = Q(
    "ml_lof",
    (s, d) => {
      val (_, feats) = ml.Features.preprocessedEvents(s, d)
      val fe = feats.select(col("event_id"),
        col("features").cast("array<double>").as("f"))
      val model = ml.Lof.fitNovelty(fe, "event_id", "f", k = 20)
      fe.select(col("event_id"),
                round(model.scoreCol(col("f")), 6).as("score_lof"))
        .orderBy("event_id")
    },
    None)

  /** Transductive LOF via LSH kNN over embeddings (§2.8 scale-path
    * twin of `ml_lof`): kNN edge list from AND-OR LSH buckets, then
    * the kdist→reach→lrd→LOF agg chain — the shape for scoring a
    * BOUNDED vector slice in place (no model, mutual neighborhoods).
    * MlSpec pins its rank agreement with exact LOF on a full slice. */
  private val qMlLofLsh = Q(
    "ml_lof_lsh",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val n = emb.count()
      val radius = ml.Lof.estimateRadius(emb, "vec_id", "f", targetPerPoint = 60, n = n)
      ml.Lof.fromNeighbors(ml.Lof.lshNeighbors(emb, "vec_id", "f", 20, radius))
        .select(col("id").as("vec_id"), round(col("lof"), 6).as("lof"))
        .orderBy("vec_id")
    },
    None)

  /** Full ensemble `/score` parity path (§2.8 `ml_ensemble_score`). */
  private val qMlEnsemble = Q(
    "ml_ensemble_score",
    (s, d) => ml.Ensemble.scoreEvents(s, d),
    None)

  /** Train/validation split (`train.py:83` `train_test_split(0.2,
    * seed=42)` → `randomSplit(Array(0.8,0.2), 42)`): deterministic
    * under the fixed seed; exposed as per-split row counts. */
  private val qMlSplit = Q(
    "ml_split",
    (s, d) => {
      val ev = Tables.events(s, d)
      val Array(train, valid) = ev.randomSplit(Array(0.8, 0.2), 42L)
      import s.implicits._
      Seq(("train", train.count()), ("valid", valid.count()))
        .toDF("split", "n_rows").orderBy("split")
    },
    None)

  /** `src_http_fallback` semantic (`api/app.py:91-114`): when model
    * scores are unavailable, score with zeros + model_version
    * 'unavailable' instead of failing the batch. Simulated here by a
    * left join against an empty score set — every row takes the
    * fallback path. */
  private val qScoreFallback = Q(
    "q_score_fallback",
    (s, d) => {
      val ev = Tables.events(s, d)
      val scores = ev.filter(lit(false))
        .select(col("event_id"), col("value").as("score_iforest"))
      ev.join(scores, Seq("event_id"), "left")
        .select(col("event_id"),
                coalesce(col("score_iforest"), lit(0.0)).as("score_iforest"),
                when(col("score_iforest").isNull, "unavailable")
                  .otherwise("graft-0.1").as("model_version"))
        .orderBy("event_id")
    },
    Some("""WITH scores AS (SELECT event_id, value AS score_iforest FROM events WHERE false)
           |SELECT e.event_id,
           | coalesce(s.score_iforest, 0.0) AS score_iforest,
           | CASE WHEN s.score_iforest IS NULL THEN 'unavailable' ELSE 'graft-0.1' END AS model_version
           |FROM events e LEFT JOIN scores s ON e.event_id = s.event_id
           |ORDER BY e.event_id""".stripMargin))

  // =====================================================================
  // §7.4 LLM-data-pipeline operators — text analysis (documents table)
  // =====================================================================

  /** Quality-scoring text stats (north-star text analysis): char count,
    * whitespace token count, punctuation & stopword ratios. All
    * codegen'd regexp/string expressions — no UDFs, scan-parallel,
    * no shuffle at all. */
  private val qTextStats = Q(
    "q_text_stats",
    (s, d) => {
      val t = col("text")
      val nTokens = size(split(trim(t), "\\s+"))
      Tables.documents(s, d).select(
          col("doc_id"),
          length(t).as("n_chars"),
          nTokens.as("n_tokens"),
          round(regexp_count(t, lit("[.,!?;:]")).cast("double") /
                  greatest(length(t), lit(1)).cast("double"), 6).as("punct_ratio"),
          round(regexp_count(t, lit("\\b(the|a|an|of|to|and|in|is|for|on|with)\\b"))
                  .cast("double") / nTokens.cast("double"), 6).as("stopword_ratio"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | CAST(length(text) AS INT) AS n_chars,
           | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
           | round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
           |   / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
           | round(CAST(len(regexp_extract_all(text, '\b(the|a|an|of|to|and|in|is|for|on|with)\b')) AS DOUBLE)
           |   / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) AS stopword_ratio
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** N-gram-heuristic language ID: per-language marker-stopword hit
    * counts, argmax with a fixed tie-break chain (en > de > fr > es). */
  private val qLangId = Q(
    "q_lang_id",
    (s, d) => {
      val t = col("text")
      val en = regexp_count(t, lit("\\b(the|and|of|is|to)\\b"))
      val de = regexp_count(t, lit("\\b(der|die|und|ist|das)\\b"))
      val fr = regexp_count(t, lit("\\b(le|la|et|est|les)\\b"))
      val es = regexp_count(t, lit("\\b(el|los|y|es|las)\\b"))
      Tables.documents(s, d).select(
          col("doc_id"), col("lang"),
          en.cast("int").as("en_hits"), de.cast("int").as("de_hits"),
          fr.cast("int").as("fr_hits"), es.cast("int").as("es_hits"),
          when(en >= de && en >= fr && en >= es, "en")
            .when(de >= fr && de >= es, "de")
            .when(fr >= es, "fr").otherwise("es").as("predicted_lang"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang,
           | CAST(len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) AS INT) AS en_hits,
           | CAST(len(regexp_extract_all(text, '\b(der|die|und|ist|das)\b')) AS INT) AS de_hits,
           | CAST(len(regexp_extract_all(text, '\b(le|la|et|est|les)\b')) AS INT) AS fr_hits,
           | CAST(len(regexp_extract_all(text, '\b(el|los|y|es|las)\b')) AS INT) AS es_hits,
           | CASE WHEN len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(der|die|und|ist|das)\b'))
           |       AND len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|est|les)\b'))
           |       AND len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(el|los|y|es|las)\b')) THEN 'en'
           |      WHEN len(regexp_extract_all(text, '\b(der|die|und|ist|das)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|est|les)\b'))
           |       AND len(regexp_extract_all(text, '\b(der|die|und|ist|das)\b')) >= len(regexp_extract_all(text, '\b(el|los|y|es|las)\b')) THEN 'de'
           |      WHEN len(regexp_extract_all(text, '\b(le|la|et|est|les)\b')) >= len(regexp_extract_all(text, '\b(el|los|y|es|las)\b')) THEN 'fr'
           |      ELSE 'es' END AS predicted_lang
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Token counting: whitespace tokens + a BPE-ish lexer regex
    * (letter runs | digit runs | single punctuation). */
  private val qTokenCount = Q(
    "q_token_count",
    (s, d) => {
      val t = col("text")
      Tables.documents(s, d).select(
          col("doc_id"),
          size(split(trim(t), "\\s+")).as("ws_tokens"),
          regexp_count(t, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("int")
            .as("bpe_tokens"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS ws_tokens,
           | CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS bpe_tokens
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** TF-IDF top term per document (§7.4 text analysis) — relational
    * formulation (explode → tf/df aggs → idf expression), fully
    * oracle-checkable, unlike hash-bucketed HashingTF. Shuffles carry
    * (doc,term) and (term) keys; idf uses the smooth sklearn form
    * ln((1+N)/(1+df))+1. */
  private val qTfidfTop = Q(
    "q_tfidf_top_term",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df derives from tf (already one row per doc-term) — no separate
      // distinct pass. No broadcast hint on the vocab-sized df table:
      // vocabulary is unbounded at corpus scale, so AQE sizes the join.
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
        .withColumn("tfidf", round(
          col("tf") * (log((lit(1.0) + col("__n")) / (lit(1.0) + col("df"))) + lit(1.0)), 6))
      // top term per doc as ONE partial+final aggregation (min_by over
      // the (−tfidf, term) struct ≡ tfidf desc, term asc). The struct
      // buffer makes it a SortAggregate (string buffers aren't
      // UnsafeRow-mutable), but the win over the row_number window
      // stands: the partial phase collapses each mapper to one row per
      // doc BEFORE the shuffle, and the sort is on doc_id only — the
      // window shuffled the whole (doc,term) frame and sorted it by
      // (doc_id, tfidf, term)
      scored.groupBy("doc_id")
        .agg(min_by(struct(col("term"), col("tf"), col("df"), col("tfidf")),
                    struct(negate(col("tfidf")), col("term"))).as("p"))
        .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"),
                col("p.df").as("df"), col("p.tfidf").as("tfidf"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
           |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents),
           |scored AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
           |  round(tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0), 6) AS tfidf
           |  FROM tf JOIN df USING (term) CROSS JOIN n)
           |SELECT doc_id, term, tf, df, tfidf FROM (
           |  SELECT doc_id, term, tf, df, tfidf,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
           |  FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin))

  /** Document fingerprinting: content hash + length. md5 is identical
    * across engines; used as the exact-dedup key. */
  private val qFingerprint = Q(
    "q_fingerprint",
    (s, d) =>
      Tables.documents(s, d).select(
          col("doc_id"), md5(col("text").cast("binary")).as("fp"),
          length(col("text")).as("n_chars"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, md5(text) AS fp, CAST(length(text) AS INT) AS n_chars
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Winnowing document fingerprints (rolling-hash selection, Schleimer
    * et al. 2003): hash every 3-word k-gram, slide a window of
    * `WinnowWindow` hashes over the sequence, keep each window's
    * minimum — the classic plagiarism/near-dup fingerprint whose
    * density is ~2/(window+1) of the k-grams, position-robust unlike
    * whole-document digests. All per-row array work (no shuffle until
    * the final explode), scan-parallel at any corpus size. Hashes are
    * md5 hex strings compared lexicographically so the min-selection is
    * bit-identical in Spark and the DuckDB oracle (a 64-bit rolling
    * polynomial would be cheaper per byte at production scale, but is
    * not portable across the two engines — selection semantics are
    * identical either way). */
  private val WinnowWindow = 4

  private val qWinnowFingerprint = Q(
    "q_winnow_fingerprint",
    (s, d) => operators.Dedup.winnowFingerprints(
        Tables.documents(s, d), "doc_id", "text", k = 3, window = WinnowWindow)
      .orderBy("doc_id", "fp"),
    Some(s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |kh AS (SELECT doc_id, list_transform(generate_series(1, len(w)-2),
           |         i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2]))) AS kh
           |       FROM w WHERE len(w) >= 3)
           |SELECT doc_id, unnest(list_distinct(list_transform(
           |  generate_series(1, len(kh)-${WinnowWindow - 1}),
           |  j -> list_min(list_slice(kh, j, j + ${WinnowWindow - 1}))))) AS fp
           |FROM kh WHERE len(kh) >= $WinnowWindow ORDER BY doc_id, fp""".stripMargin))

  /** Composed corpus-cleaning pipeline (north-star): the full
    * training-data pass — language-ID gate (predicted en), quality gate
    * (length + stopword density), then exact-dedup keeper — as ONE
    * declarative plan. Catalyst fuses the per-row gates into the scan
    * (all filters precede the single digest-keyed shuffle), so the
    * pipeline costs the same as exact dedup over the surviving docs. */
  private val qCorpusClean = Q(
    "q_corpus_clean",
    (s, d) => {
      val t = col("text")
      val nTokens = size(split(trim(t), "\\s+"))
      val stopRatio = regexp_count(t, lit("\\b(the|a|an|of|to|and|in|is|for|on|with)\\b"))
        .cast("double") / nTokens.cast("double")
      Tables.documents(s, d)
        .withColumn("n_tokens", nTokens)
        .withColumn("stopword_ratio", round(stopRatio, 6))
        // language + quality gates — the row-local predicate shared
        // with the streaming curation path (CorpusStream.cleaned)
        .filter(operators.Corpus.langQualityGate(t))
        .groupBy(md5(t.cast("binary")).as("fp"))     // exact-dedup keeper
        .agg(min(col("doc_id")).as("keeper_id"),
             count(lit(1)).as("n_copies"),
             min(col("n_tokens")).as("n_tokens"),
             min(col("stopword_ratio")).as("stopword_ratio"))
        .select("keeper_id", "fp", "n_copies", "n_tokens", "stopword_ratio")
        .orderBy("keeper_id")
    },
    Some("""WITH gated AS (
           | SELECT doc_id, text,
           |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
           |  round(CAST(len(regexp_extract_all(text, '\b(the|a|an|of|to|and|in|is|for|on|with)\b')) AS DOUBLE)
           |    / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) AS stopword_ratio
           | FROM documents
           | WHERE len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(der|die|und|ist|das)\b'))
           |   AND len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|est|les)\b'))
           |   AND len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(el|los|y|es|las)\b')))
           |SELECT min(doc_id) AS keeper_id, md5(text) AS fp, count(*) AS n_copies,
           |       min(n_tokens) AS n_tokens, min(stopword_ratio) AS stopword_ratio
           |FROM gated WHERE n_tokens >= 20 AND stopword_ratio >= 0.05
           |GROUP BY md5(text) ORDER BY keeper_id""".stripMargin))

  /** Exact dedup (north-star): hash-groupBy on content, keep min id.
    * One shuffle keyed on the 128-bit digest — at 100 TB the digest
    * (not the document body) is the shuffle key, and the keeper-id agg
    * is map-side combined. */
  private val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy("keeper_id"),
    Some("""SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS n_copies
           |FROM documents GROUP BY md5(text) ORDER BY keeper_id""".stripMargin))

  /** Max document frequency a shingle may have and still enter the
    * `q_ngram_jaccard` inverted index. A shingle shared by f docs
    * contributes f² candidate rows to the self-join, so one stop-phrase
    * trigram at 100 TB is a full-cluster cartesian on a single key —
    * the same quadratic term `VectorLsh.bucketCap` bounds. Shingles
    * above the cap carry ~no similarity signal (they are corpus-wide
    * boilerplate) and are dropped from BOTH the index and the per-doc
    * set sizes, i.e. Jaccard is computed over the capped shingle
    * universe; the oracle SQL applies the identical cap. (At the
    * driver's scales max df = 25, so results equal the uncapped form.) */
  private val NgramMaxShingleDf = 100

  /** N-gram (3-word-shingle) Jaccard near-dup pairs via inverted-index
    * self-join — the scalable shape (shuffle on shingle, then on pair),
    * NEVER an O(n²) crossJoin. Shingle sets are distinct per doc; hot
    * shingles (df > `NgramMaxShingleDf`) are excluded to bound the
    * per-key quadratic term. The df filter joins on the same shingle
    * key the self-join shuffles on, so it rides the same exchange. */
  private val qNgramJaccard = Q(
    "q_ngram_jaccard",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .filter(size(col("w")) >= 3)
      // shuffle/join on the 64-bit shingle hash, not the string — same
      // distinct/equality structure (collision odds ~2⁻⁶⁴; the oracle
      // keeps the string formulation), ~¼ the shuffle bytes. Native
      // single-pass expression, not an interpreted per-element HOF.
      val sh0 = docs.select(col("doc_id"),
        explode(graft.functions.TextHash.shingleHashes(col("w"), 3)).as("shingle"))
      val keepable = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= NgramMaxShingleDf).select("shingle")
      val sh = sh0.join(keepable, "shingle")
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = sh.as("a").join(sh.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("i"))
      val jac = round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6)
      inter
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
        .filter(col("jaccard") >= 0.1)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH sh0 AS (
           | SELECT doc_id, unnest(list_distinct(list_transform(
           |   generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')) - 2),
           |   i -> concat_ws(' ',
           |     regexp_split_to_array(trim(text), '\\s+')[i],
           |     regexp_split_to_array(trim(text), '\\s+')[i+1],
           |     regexp_split_to_array(trim(text), '\\s+')[i+2])))) AS shingle
           | FROM documents WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3),
           |kdf AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= $NgramMaxShingleDf),
           |sh AS (SELECT doc_id, sh0.shingle FROM sh0 JOIN kdf ON sh0.shingle = kdf.shingle),
           |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
           |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |          GROUP BY 1, 2)
           |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
           |FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |WHERE round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) >= 0.1
           |ORDER BY doc_a, doc_b""".stripMargin))

  /** MinHash-LSH near-dup pairs (rows-only: banding probabilities are
    * not SQL-expressible; exactness is covered by DedupSpec's planted
    * near-dups + the q_ngram_jaccard oracle on the same corpus).
    *
    * This is the PRODUCTION configuration — both scale defenses on:
    *  - `bandBucketCap = 512` (r5 soak lesson: uncapped, a planted
    *    K-member near-dup cluster emits its full K²/2 clique — 103k
    *    pairs at 5k docs, 1.5M at 21k; the cap star-expands hot band
    *    buckets so a boilerplate cluster costs O(K) edges, and
    *    connectivity — what clustering consumes — is preserved exactly);
    *  - `stopShingleDfFrac = 0.5` (promoted to the default r6:
    *    shingles present in ≥ half the corpus are universal boilerplate
    *    carrying zero dedup signal, and they both flood the band
    *    buckets with junk candidates AND inflate the verified jaccard
    *    of unrelated docs. DedupSpec proves true near-dups keep their
    *    informative shingles and their recall; the md5 proof twin
    *    `dedup_minhash_md5_stop` pins the filtered pipeline's algebra
    *    oracle-green). */
  private val qDedupMinhash = Q(
    "dedup_minhash",
    (s, d) => operators.Dedup.minhashPairs(
      Tables.documents(s, d), "doc_id", "text",
      numHashes = 32, bands = 16, threshold = 0.1,
      bandBucketCap = 512, stopShingleDfFrac = Some(0.5)),
    None)

  /** The SAME minhash pipeline with a DuckDB-computable hash family
    * (min over shingles of md5('i:'||shingle); band key md5 of the
    * joined mins) — signatures, banding, candidate generation AND
    * exact-Jaccard verification are all independently recomputed by
    * the oracle and hash-compared. The xxhash64 form above stays the
    * production path (8-byte codegen keys); this variant exists to
    * prove the pipeline, not to replace it — so it runs a half-width
    * 16-hash signature (same rows-per-band, J² band selectivity): md5
    * is ~4× the per-hash cost of the codegen xxhash64, and the proof
    * doesn't need the production signature width. */
  /** Shared CTE chain for the md5-portable minhash oracle: shingles →
    * 16-hash signatures → 8 band keys → candidate pairs → exact-Jaccard
    * verified `pairs(doc_a, doc_b, jaccard)`. Used by both the pair
    * query and the connected-components clustering query so their
    * oracles derive pairs identically. */
  private def minhashMd5PairCtes(nh: Int, bands: Int, thr: Double,
                                 bandCap: Option[Int] = None,
                                 docWhere: String = "",
                                 stopDfFrac: Option[Double] = None): String = {
    val rpb = nh / bands
    val minsSql = (0 until nh)
      .map(i => s"min(md5('$i:' || s)) AS mh_$i").mkString(",\n   ")
    val bandList = (0 until bands).map { b =>
      val parts = (b * rpb until (b + 1) * rpb).map(r => s"mh_$r").mkString(" || '|' || ")
      s"md5('$b' || '|' || $parts)"
    }.mkString(",\n   ")
    // candidate CTE: historical all-pairs, or the bandBucketCap variant
    // (cold buckets all-pairs, hot buckets star-expanded to their min
    // member) — re-deriving Dedup.minhashPairs' cap semantics in SQL
    val candsSql = bandCap match {
      case None =>
        """cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          | FROM bands a JOIN bands b
          |   ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),""".stripMargin
      case Some(cap) =>
        s"""freq AS (SELECT band, bh, count(*) AS f, min(doc_id) AS mn
           | FROM bands GROUP BY band, bh),
           |cands AS (SELECT DISTINCT doc_a, doc_b FROM (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |  JOIN freq f ON f.band = a.band AND f.bh = a.bh
           |  WHERE f.f <= $cap
           |  UNION
           |  SELECT f.mn AS doc_a, e.doc_id AS doc_b
           |  FROM bands e JOIN freq f ON f.band = e.band AND f.bh = e.bh
           |  WHERE f.f > $cap AND e.doc_id <> f.mn)),""".stripMargin
    }
    // stop-shingle CTEs re-derive Dedup.dropStopShingles: df over the
    // exploded distinct shingles, the ≥ n·frac hot bar, anti-filter —
    // docs with zero informative shingles vanish from sig AND sets
    val shFilter = stopDfFrac match {
      case None => "sh AS (SELECT doc_id, s FROM sh0),"
      case Some(f) =>
        s"""tot AS (SELECT count(DISTINCT doc_id) AS n FROM sh0),
           |hot AS (SELECT s FROM sh0 GROUP BY s
           |        HAVING count(*) >= (SELECT n FROM tot) * $f),
           |sh AS (SELECT doc_id, s FROM sh0
           |       WHERE s NOT IN (SELECT s FROM hot)),""".stripMargin
    }
    s"""w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents $docWhere),
       |sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |   generate_series(1, len(w)-2),
       |   i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS s
       | FROM w WHERE len(w) >= 3),
       |$shFilter
       |sig AS (SELECT doc_id,
       |   $minsSql
       | FROM sh GROUP BY doc_id),
       |bands AS (SELECT doc_id,
       |   unnest(generate_series(0, ${bands - 1})) AS band,
       |   unnest([$bandList]) AS bh
       | FROM sig),
       |$candsSql
       |sets AS (SELECT doc_id, list(s) AS ss FROM sh GROUP BY doc_id),
       |pairs AS (SELECT doc_a, doc_b,
       |   round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
       |     / (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE)
       |        - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)), 6) AS jaccard
       | FROM cands
       | JOIN sets sa ON cands.doc_a = sa.doc_id
       | JOIN sets sb ON cands.doc_b = sb.doc_id
       | WHERE round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
       |     / (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE)
       |        - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)), 6) >= $thr)""".stripMargin
  }

  private val qDedupMinhashMd5 = {
    val (nh, bands, thr) = (16, 8, 0.1)
    Q(
      "dedup_minhash_md5",
      (s, d) => operators.Dedup.minhashPairs(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = nh, bands = bands, threshold = thr, portableMd5 = true),
      Some(s"""WITH ${minhashMd5PairCtes(nh, bands, thr)}
           |SELECT doc_a, doc_b, jaccard FROM pairs
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  /** The skew cap of the minhash family, ORACLE-PROVEN: same portable
    * pipeline with `bandBucketCap = 2`, so band buckets above the cap
    * star-expand to their min member instead of going quadratic (the
    * 100 TB guard against a boilerplate page mirrored 100k×). The
    * oracle re-derives the exact cap semantics — bucket frequencies,
    * the cold all-pairs branch AND the hot star branch — independently
    * in SQL, so the bounded candidate generation itself is
    * hash-checked, not just spot-tested. */
  private val qDedupMinhashMd5Capped = {
    val (nh, bands, thr, cap) = (16, 8, 0.1, 2)
    Q(
      "dedup_minhash_md5_capped",
      (s, d) => operators.Dedup.minhashPairs(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = nh, bands = bands, threshold = thr, portableMd5 = true,
        bandBucketCap = cap),
      Some(s"""WITH ${minhashMd5PairCtes(nh, bands, thr, bandCap = Some(cap))}
           |SELECT doc_a, doc_b, jaccard FROM pairs
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  // (The former `dedup_minhash_stop` twin was folded into the declared
  // `dedup_minhash` in r6 — the stop-shingle df filter IS the
  // production default now, so a separate filtered variant was a
  // byte-identical duplicate. The rationale lives on `dedup_minhash`'s
  // scaladoc; the filter's frequency semantics stay oracle-pinned by
  // `dedup_minhash_md5_stop` below.)

  /** The stop-shingle filter ORACLE-PROVEN on the md5-portable
    * pipeline: the oracle re-derives the shingle df counts, the
    * ≥ n·frac hot bar, the anti-filter, and the downstream signatures
    * / bands / cap / verification — so the frequency semantics of the
    * filter (exactly which shingles drop, which docs vanish) are
    * hash-checked, not just spot-tested. */
  private val qDedupMinhashMd5Stop = {
    val (nh, bands, thr, cap, frac) = (16, 8, 0.1, 2, 0.5)
    Q(
      "dedup_minhash_md5_stop",
      (s, d) => operators.Dedup.minhashPairs(
        Tables.documents(s, d), "doc_id", "text",
        numHashes = nh, bands = bands, threshold = thr, portableMd5 = true,
        bandBucketCap = cap, stopShingleDfFrac = Some(frac)),
      Some(s"""WITH ${minhashMd5PairCtes(nh, bands, thr, bandCap = Some(cap),
                stopDfFrac = Some(frac))}
           |SELECT doc_a, doc_b, jaccard FROM pairs
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  /** Pairs → dedup GROUPS: connected components over the verified
    * minhash near-dup pairs (A~B, B~C ⇒ {A,B,C} even though A~C was
    * never a candidate), cluster id = min reachable doc_id, survivor =
    * the canonical keeper. The Spark side is iterative hash-min label
    * propagation (`Dedup.connectedComponents` — one shuffle join + one
    * hash agg per round, O(diameter) rounds); the oracle recomputes the
    * SAME pair set and closes it transitively with a recursive CTE, so
    * candidate generation, verification, AND the transitive closure are
    * all independently hash-checked. */
  private val qDedupClusters = {
    val (nh, bands, thr) = (16, 8, 0.1)
    Q(
      "q_dedup_clusters",
      (s, d) => operators.Dedup.connectedComponents(
          operators.Dedup.minhashPairs(
            Tables.documents(s, d), "doc_id", "text",
            numHashes = nh, bands = bands, threshold = thr, portableMd5 = true),
          "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE ${minhashMd5PairCtes(nh, bands, thr)},
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach(node, label) AS (
           | SELECT src, src FROM edges
           | UNION
           | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
           |SELECT node AS doc_id, min(label) AS cluster_id,
           | CAST(CASE WHEN node = min(label) THEN 1 ELSE 0 END AS INT) AS is_survivor
           |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin))
  }

  /** Leakage-free train/test split: evaluation-split assignment where
    * every near-dup CLUSTER lands on one side atomically — the guard
    * against train/test contamination through near-duplicate pages (a
    * doc-level hash split leaks whenever a page's near-copy crosses
    * the boundary). Clusters come from the oracle-proven minhash→CC
    * pipeline; singleton docs are their own cluster; the side is a
    * deterministic md5 coin on the CLUSTER id (80/20). Pairs, closure,
    * coin and assignment are all re-derived by the oracle, so the
    * no-straddle property is hash-checked end to end. */
  private val qLeakageSplit = {
    val (nh, bands, thr) = (16, 8, 0.1)
    Q(
      "q_leakage_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cc = operators.Dedup.connectedComponents(
            operators.Dedup.minhashPairs(docs, "doc_id", "text",
              numHashes = nh, bands = bands, threshold = thr, portableMd5 = true),
            "doc_a", "doc_b")
          .select(col("node").as("doc_id"), col("cluster_id"))
        val coin = conv(substring(
          md5(col("cluster_id").cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long")
        docs.select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("split",
            when(coin % 10 < 8, lit("train")).otherwise(lit("test")))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${minhashMd5PairCtes(nh, bands, thr)},
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach(node, label) AS (
           | SELECT src, src FROM edges
           | UNION
           | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
           |cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
           |a AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
           |      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node)
           |SELECT doc_id, cluster_id,
           | CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8
           |      THEN 'train' ELSE 'test' END AS split
           |FROM a ORDER BY doc_id""".stripMargin))
  }

  /** SimHash near-dup pairs (rows-only). maxHamming = 3 matches the
    * banding guarantee: 4 chunks ⇒ every pair within Hamming 3 shares
    * a chunk and is provably generated as a candidate (DedupSpec
    * brute-force-verifies this). 3/64 bits ≈ cosine ≥ 0.995 between
    * token-frequency profiles — the near-dup regime. */
  private val qDedupSimhash = Q(
    "dedup_simhash",
    (s, d) => operators.Dedup.simhashPairs(
      Tables.documents(s, d), "doc_id", "text", maxHamming = 3),
    None)

  /** Embedding-cosine near-dup pairs via LSH buckets (rows-only). */
  private val qDedupEmbedding = Q(
    "dedup_embedding",
    (s, d) => operators.Dedup.embeddingPairs(
      Tables.embeddings(s, d), "vec_id", "embedding", minCosine = 0.35),
    None)

  /** SemDeDup-style semantic dedup verdict over the embeddings table:
    * k-means cells → within-cell cosine pairs → transitive closure →
    * one (id, cluster_id, is_survivor) row per vector (rows-only; the
    * clustering algebra is oracle-proven on q_dedup_clusters, and
    * DedupSpec checks planted semantic dups here). minCosine = 0.3
    * because this corpus has no true dups (max pairwise cos ≈ 0.4) —
    * the threshold is lowered to exercise the clustering on the natural
    * cosine tail; production semantic dedup runs 0.95+. nlist is the
    * adaptive default (corpus-sized cells — at the driver table sizes
    * it resolves to the old fixed 16, so test-scale output is
    * unchanged; the r6 48× soak is where fixed-16 went quadratic). */
  private val qDedupSemantic = Q(
    "dedup_semantic",
    (s, d) => operators.Dedup.semanticDedup(
      Tables.embeddings(s, d), "vec_id", "embedding",
      minCosine = 0.3),
    None)

  // =====================================================================
  // §7.4 similarity search (embeddings table)
  // =====================================================================

  /** Brute-force cosine top-k (ANN baseline): 10 query vectors
    * broadcast against the corpus, per-query top-10 via window rank on
    * the ROUNDED score (engine-stable ties). Cosine is zip_with/
    * aggregate expression math — no UDF, no shuffle on the corpus side.
    * The LSH-bucketed variant is the scale path (rows-only op). */
  private val simBruteforceSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
           |c AS (SELECT q.query_id, e.vec_id AS neighbor_id,
           |  round(CASE WHEN sqrt(list_sum(list_transform(list_zip(q.qv, q.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |           * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0
           |        THEN list_sum(list_transform(list_zip(q.qv, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |           / (sqrt(list_sum(list_transform(list_zip(q.qv, q.qv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |            * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
           |        ELSE 0.0 END, 6) AS cos
           | FROM embeddings e, q WHERE e.vec_id <> q.query_id)
           |SELECT query_id, neighbor_id, cos FROM (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM c) WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin

  private val qSimBruteforce = Q(
    "q_sim_bruteforce",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val cos = round(VectorOps.cosine(col("qv"), col("embedding")), 6)
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), cos.as("cos"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 10)
        .drop("__rn").orderBy("query_id", "neighbor_id")
    },
    Some(simBruteforceSql))

  /** The SERVE path for exact similarity (`operators.AnnServe`): fit an
    * in-memory index shard once, answer each query row-locally with one
    * native codegen top-k scan — no join, no shuffle, the shape a
    * vector-search serving tier actually runs (index shards resident in
    * RAM; at 100 TB the corpus shards across serving tasks and a
    * per-query merge combines shard answers). Output is bit-identical
    * to `q_sim_bruteforce` (the expression ranks on HALF_UP-rounded
    * cosine with the same tie-break), so the same oracle hash-checks
    * the serve engine end to end. */
  private val qSimServe = Q(
    "q_sim_serve",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val shard = operators.AnnServe.fitShard(e)
      operators.AnnServe.topkRows(e.filter(col("vec_id") < 10), shard, k = 10)
        .orderBy("query_id", "neighbor_id")
    },
    Some(simBruteforceSql))

  /** The CROSS-SHARD serve merge — the 100 TB half of the serve
    * contract as code: the corpus hash-partitioned into independent
    * in-memory shards (`fitShards`), each query answered per shard by
    * the same row-local expression, answers merged per query on the
    * identical (rounded-cos desc, neighbor_id asc) order
    * (`topkRowsSharded`). Exact over the union of per-shard exact
    * top-ks, so output is bit-identical to the single-shard
    * `q_sim_serve` AND the brute-force oracle for any shard count —
    * SimilaritySpec pins shard-count invariance across 1/2/4/7. */
  private val qSimServeSharded = Q(
    "q_sim_serve_sharded",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val shards = operators.AnnServe.fitShards(e, nShards = 4)
      operators.AnnServe.topkRowsSharded(
          e.filter(col("vec_id") < 10), shards, k = 10)
        .orderBy("query_id", "neighbor_id")
    },
    Some(simBruteforceSql))

  /** The streaming ANN serve twin: the `vec_id < 10` slice of the
    * embeddings table streamed as a live query feed through the same
    * row-local serve (stateless append — no watermark, no state, every
    * query answered in its arrival micro-batch). End state ≡ the batch
    * `q_sim_serve` row set, so the brute-force oracle applies
    * verbatim. */
  private val qSimServeStream = Q(
    "q_sim_serve_stream",
    (s, d) => streaming.CorpusStream.annServeOverFile(s, d, k = 10)
      .orderBy("query_id", "neighbor_id"),
    Some(simBruteforceSql))

  /** The rounded-cosine SQL expression shared by the mining oracles
    * (same spelling as `simBruteforceSql` / `knnGraphSqlFor`). */
  private def sqlCosExpr(a: String, b: String): String =
    s"""round(CASE WHEN sqrt(list_sum(list_transform(list_zip($a, $a), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
       |         * sqrt(list_sum(list_transform(list_zip($b, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0
       |      THEN list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |         / (sqrt(list_sum(list_transform(list_zip($a, $a), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
       |          * sqrt(list_sum(list_transform(list_zip($b, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
       |      ELSE 0.0 END, 6)""".stripMargin

  /** Margin-criterion BITEXT MINING (`operators.Mining.bitextMine` —
    * Artetxe & Schwenk 2019) over a two-collection split of the
    * embeddings table (even ids = src "language", odd = tgt), FULL
    * SQL oracle: DuckDB re-derives both directions' exact top-k
    * windows from the brute-force cross product, the neighborhood
    * means, the ratio margin and the per-src argmax. The declared
    * slice (`vec_id < 400`, k=4) bounds the oracle's quadratic side;
    * the Spark operator never materializes a cross product at ANY
    * scale (serve shards + |src|·k-bounded joins). */
  private val qBitextMine = Q(
    "q_bitext_mine",
    (s, d) => {
      val e = Tables.embeddings(s, d).filter(col("vec_id") < 400)
      val src = e.filter(col("vec_id") % 2 === 0)
      val tgt = e.filter(col("vec_id") % 2 =!= 0)
      operators.Mining.bitextMine(src, tgt, k = 4).orderBy("src_id")
    },
    Some(bitextMineSql))

  /** Bitext mining's STREAMING twin (FULL oracle): the src collection
    * arrives live and each row's margin-mined pair is one row-local
    * scan (`functions.BitextTopMargin` — the whole batch algebra
    * inside the scan; backward means fitted batch-side into the
    * shard). No join, no window, no state ⇒ append-legal; the drained
    * end state equals the batch `q_bitext_mine` row set, so its full
    * DuckDB oracle applies verbatim even live. */
  private val qBitextMineStream = Q(
    "q_bitext_mine_stream",
    (s, d) => streaming.CorpusStream.bitextOverFile(s, d, k = 4)
      .orderBy("src_id"),
    Some(bitextMineSql))

  private lazy val bitextMineSql: String =
    s"""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400 AND vec_id % 2 = 0),
      |t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400 AND vec_id % 2 <> 0),
      |fc AS (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
      |  ${sqlCosExpr("s.embedding", "t.embedding")} AS cos
      | FROM s, t),
      |fwd AS (SELECT src_id, tgt_id, cos FROM (
      |  SELECT src_id, tgt_id, cos,
      |    row_number() OVER (PARTITION BY src_id ORDER BY cos DESC, tgt_id ASC) AS rn
      |  FROM fc) WHERE rn <= 4),
      |bwd AS (SELECT tgt_id, cos FROM (
      |  SELECT tgt_id, cos,
      |    row_number() OVER (PARTITION BY tgt_id ORDER BY cos DESC, src_id ASC) AS rn
      |  FROM fc) WHERE rn <= 4),
      |asrc AS (SELECT src_id, avg(cos) AS a FROM fwd GROUP BY src_id),
      |atgt AS (SELECT tgt_id, avg(cos) AS a FROM bwd GROUP BY tgt_id),
      |m AS (SELECT f.src_id, f.tgt_id, f.cos,
      |  CASE WHEN (x.a + y.a) / 2 > 0 THEN round(f.cos / ((x.a + y.a) / 2), 6)
      |       ELSE 0.0 END AS margin
      | FROM fwd f JOIN asrc x ON f.src_id = x.src_id
      |            JOIN atgt y ON f.tgt_id = y.tgt_id)
      |SELECT src_id, tgt_id, cos, margin FROM (
      | SELECT src_id, tgt_id, cos, margin,
      |  row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC) AS rn
      | FROM m) WHERE rn = 1 ORDER BY src_id""".stripMargin

  /** Label-safe HARD-NEGATIVE MINING (`operators.Mining.hardNegatives`)
    * — each anchor's nearest different-label neighbors inside its
    * exact top-20 window, re-ranked 1..5; the embeddings table's own
    * `label` column is the positive-class signal. FULL SQL oracle
    * (brute-force window + the same label filter + re-rank). Anchors
    * sliced to `vec_id < 50` to bound the oracle's quadratic side;
    * the Spark path is serve-shard + bounded joins at any scale. */
  private val hardNegativesSql =
    s"""WITH a AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 50),
      |c AS (SELECT a.vec_id AS anchor_id, e.vec_id AS neg_id,
      |  a.label AS alab, e.label AS nlab,
      |  ${sqlCosExpr("a.embedding", "e.embedding")} AS cos
      | FROM a, embeddings e WHERE e.vec_id <> a.vec_id),
      |kwin AS (SELECT * FROM (
      |  SELECT anchor_id, neg_id, alab, nlab, cos,
      |    row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neg_id ASC) AS rn
      |  FROM c) WHERE rn <= 20),
      |neg AS (SELECT anchor_id, neg_id, cos,
      |  row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neg_id ASC) AS rank
      | FROM kwin WHERE alab IS NULL OR nlab IS NULL OR alab <> nlab)
      |SELECT anchor_id, neg_id, cos, CAST(rank AS INTEGER) AS rank
      |FROM neg WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin

  private val qHardNegatives = Q(
    "q_hard_negatives",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      operators.Mining.hardNegatives(
          e.filter(col("vec_id") < 50), e, e, k = 20, m = 5)
        .orderBy("anchor_id", "rank")
    },
    Some(hardNegativesSql))

  /** The mining family's STREAMING twin (FULL oracle): a live anchor
    * feed against the standing labeled serve shard — the batch
    * operator's top-k window → null-safe same-label drop → rank 1..m
    * collapsed into one row-local scan expression
    * (`functions.HardNegTopK`; no join, no window, no state — the
    * spelling that makes mining append-mode streaming-legal). Drained
    * end state ≡ the batch `q_hard_negatives` row set, so its full
    * DuckDB oracle applies verbatim even live. */
  private val qHardNegativesStream = Q(
    "q_hard_negatives_stream",
    (s, d) => streaming.CorpusStream.hardNegOverFile(s, d, k = 20, m = 5)
      .orderBy("anchor_id", "rank"),
    Some(hardNegativesSql))

  /** Shared oracle for the exact kNN-graph family: the graph stated as
    * the quadratic self-join + per-node top-5 window (only the oracle
    * pays the O(n²) join — the Spark queries never materialize it).
    * `corpusWhere` narrows the node set (the delete query's oracle is
    * the SAME graph over the remaining vectors). */
  private def knnGraphSqlFor(corpusWhere: String): String =
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings $corpusWhere),
           |c AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |  round(CASE WHEN sqrt(list_sum(list_transform(list_zip(q.embedding, q.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |           * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0
           |        THEN list_sum(list_transform(list_zip(q.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |           / (sqrt(list_sum(list_transform(list_zip(q.embedding, q.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |            * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
           |        ELSE 0.0 END, 6) AS cos
           | FROM emb q, emb e WHERE e.vec_id <> q.vec_id)
           |SELECT query_id, neighbor_id, cos FROM (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM c) WHERE rn <= 5 ORDER BY query_id, neighbor_id""".stripMargin
  private val knnGraphSql = knnGraphSqlFor("")

  /** Exact k-NN GRAPH over the whole embeddings table — every vector's
    * top-5 neighbors, the input structure for graph-based clustering
    * and mutual-kNN dedup. One pass of the serve expression with the
    * corpus as its own query feed: each row pays one shard scan, the
    * whole graph is one narrow scan-side job (no O(n²) join
    * materializes Spark-side — only the DuckDB oracle states it as
    * the quadratic self-join). At scale, queries partition freely
    * across executors while each holds the shard; corpus sizes past
    * one shard fall back to the LSH/IVF candidate paths feeding the
    * same per-row top-k. */
  private val qKnnGraph = Q(
    "q_knn_graph",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val shard = operators.AnnServe.fitShard(e)
      operators.AnnServe.topkRows(e, shard, k = 5)
        .orderBy("query_id", "neighbor_id")
    },
    Some(knnGraphSql))

  /** The exact graph ACROSS SHARDS (same full oracle): the corpus
    * hash-partitioned into independent serve shards and every node's
    * top-k merged per query — the deployment shape the two-level
    * quantizer's own ceiling guard points at ("shard the corpus and
    * merge per-node top-k") as a declared, oracle-checked query.
    * Exact-over-union like `q_sim_serve_sharded`, so the graph is
    * bit-identical to the single-shard `q_knn_graph` for any shard
    * count; the scan cost is the same n² the one-shard expression
    * pays, now split across shard-holding serving nodes. */
  private val qKnnGraphSharded = Q(
    "q_knn_graph_sharded",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val shards = operators.AnnServe.fitShards(e, nShards = 3)
      operators.AnnServe.topkRowsSharded(e, shards, k = 5)
        .orderBy("query_id", "neighbor_id")
    },
    Some(knnGraphSql))

  /** INCREMENTAL graph maintenance under the SAME full oracle: 80% of
    * the corpus (vec_id % 5 ≠ 0) is the standing index with its graph
    * already built; the remaining 20% arrives as the refresh batch and
    * is absorbed via `AnnServe.knnGraphIncremental` — old-vs-old work
    * is NEVER recomputed (those answers enter as the existing edge
    * list), yet the exact-over-union merge makes the result
    * bit-identical to rebuilding from scratch, so the whole-table
    * kNN-graph oracle applies verbatim. The continuous-refresh shape
    * (`q_dedup_incremental`) applied to the vector side. */
  private val qKnnGraphInc = Q(
    "q_knn_graph_inc",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val old = e.filter(col("vec_id") % 5 =!= 0)
      val fresh = e.filter(col("vec_id") % 5 === 0)
      val oldGraph = operators.AnnServe.topkRows(
        old, operators.AnnServe.fitShard(old), k = 5)
      operators.AnnServe.knnGraphIncremental(oldGraph, old, fresh, k = 5)
        .orderBy("query_id", "neighbor_id")
    },
    Some(knnGraphSql))

  /** The DELETE half of graph maintenance under the filtered oracle:
    * vectors with vec_id % 7 == 0 leave the corpus, and the standing
    * graph absorbs the deletion via `AnnServe.knnGraphDelete` — only
    * nodes that held a removed id in their top-5 re-serve against the
    * remaining corpus; every untouched node's edges pass through
    * as-is (deleting candidates cannot change a top-k that contained
    * none of them). Result is bit-identical to rebuilding on the
    * remaining set, so the kNN-graph oracle with the same WHERE
    * applies. Insert (`q_knn_graph_inc`) + delete = the full upsert
    * lifecycle of a served vector index, each half oracle-checked. */
  private val qKnnGraphDel = Q(
    "q_knn_graph_del",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val full = operators.AnnServe.topkRows(
        e, operators.AnnServe.fitShard(e), k = 5)
      operators.AnnServe.knnGraphDelete(
          full,
          e.filter(col("vec_id") % 7 =!= 0),
          e.filter(col("vec_id") % 7 === 0).select("vec_id"), k = 5)
        .orderBy("query_id", "neighbor_id")
    },
    Some(knnGraphSqlFor("WHERE vec_id % 7 <> 0")))

  /** STREAMING graph maintenance under the SAME full oracle — the
    * lifecycle seam closed (VERDICT r8 #1): the embeddings table
    * arrives as four hash-sliced micro-batches and the STANDING graph
    * advances per batch via `streaming.GraphStream.MaintainedGraph`
    * (each advance = the oracle-checked `knnGraphIncremental`, each
    * committed version bit-identical to a scratch rebuild over the
    * corpus-so-far, behind a crash-recoverable versioned state swap).
    * Drained end state = the exact top-5 graph over the full table,
    * so the batch `q_knn_graph` oracle applies verbatim — the
    * established streaming-twin contract applied to the maintained
    * index itself. Arrival order is irrelevant by the exact-over-
    * union merge property. */
  private val qKnnGraphStream = Q(
    "q_knn_graph_stream",
    (s, d) => streaming.GraphStream.knnGraphOverFile(s, d, k = 5),
    Some(knnGraphSql))

  /** The maintained graph at snapshot cadence 3 under the SAME full
    * oracle (VERDICT r9 #7): between snapshots every commit persists a
    * per-version DELTA segment (corpus inserts/deletes + full new
    * neighbor lists of CHANGED queries + eviction tombstones) instead
    * of the O(n) snapshot, with a full snapshot every 3 versions to
    * bound replay length — write I/O per batch drops from O(corpus) to
    * O(|changed|), the term that dominates a long-running maintained
    * index. Recovery replays segments forward from the newest
    * committed snapshot behind the same atomic POINTER contract, and
    * the drained end state is BIT-IDENTICAL to cadence 1 (StreamingSpec
    * gates parity, kill/restart, and the post-compaction window), so
    * the batch `q_knn_graph` oracle applies verbatim. With 4 slices
    * this run exercises boot-snapshot, two delta segments and one
    * compaction. */
  private val qKnnGraphStreamLog = Q(
    "q_knn_graph_stream_log",
    (s, d) => streaming.GraphStream.knnGraphOverFile(s, d, k = 5,
      compactEvery = 3),
    Some(knnGraphSql))

  /** The CONTINUOUS-CORPUS flagship — the streaming twin of the
    * composed-pipeline family (VERDICT r8 #7): document+embedding
    * batches stream through ONE maintained state composing
    * incremental near-dup dedup (minhash bands vs the standing
    * corpus, verified jaccard, cluster-min-id keep rule) → kept-set
    * diff (new keepers inserted, dethroned keepers EVICTED) → the
    * maintained exact kNN graph (`GraphStream.MaintainedGraph`
    * absorbing each diff as delete+insert behind the versioned swap).
    * The cluster-min-id rule is order-FREE (clusters only grow,
    * min(cluster) only falls), so the drained end state equals the
    * batch pipeline on the full corpus for ANY arrival order, and the
    * chained oracle re-derives everything from scratch: md5-minhash
    * bands → candidate pairs → jaccard verification → recursive-CTE
    * transitive closure → min-id keep → exact top-5 graph over the
    * keepers. Three oracle-proven stages, one hash check. */
  private val qContinuousCorpus = {
    val (nh, bands, thr, k) = (16, 8, 0.1, 5)
    Q(
      "q_continuous_corpus",
      (s, d) => streaming.CorpusPipeline.continuousOverFile(s, d, k = k),
      Some(s"""WITH RECURSIVE ${minhashMd5PairCtes(nh, bands, thr)},
           |e0 AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |       UNION SELECT doc_b, doc_a FROM pairs),
           |reach(node, label) AS (
           | SELECT src, src FROM e0
           | UNION
           | SELECT e.dst, r.label FROM reach r JOIN e0 e ON e.src = r.node),
           |nonmin AS (SELECT node FROM reach GROUP BY node
           |           HAVING node <> min(label)),
           |emb AS (SELECT vec_id, embedding FROM embeddings
           |        WHERE vec_id NOT IN (SELECT node FROM nonmin)),
           |c AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |  round(${duckCosine("q.embedding", "e.embedding")}, 6) AS cos
           | FROM emb q, emb e WHERE e.vec_id <> q.vec_id)
           |SELECT query_id, neighbor_id, cos FROM (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM c) WHERE rn <= $k ORDER BY query_id, neighbor_id""".stripMargin))
  }

  /** The continuous-corpus flagship at snapshot cadence 3 (the r9
    * VERDICT's last lifecycle task closed on both maintained
    * operators): between snapshots, corpus AND embedded graph persist
    * per-batch DELTA segments — the batch's docs, its new pairs and
    * the kept-set diff, all frames the advance algebra already
    * computes, so the segment costs zero extra compute and O(|batch|)
    * write VOLUME replaces the per-batch O(corpus) snapshot — with a
    * full snapshot every 3 versions behind the same atomic POINTER
    * contract. (At bench scale wall time is a wash: tiny-state jobs
    * are scheduler-bound, and a segment is more writes than a
    * snapshot; the byte claim is what matters at production batch
    * sizes, and StreamingSpec pins it structurally — unchanged state
    * is never rewritten.) Recovery replays segments forward from the
    * newest snapshot (StreamingSpec crosses kill/restart, the
    * retention window and compaction); the drained end state is
    * bit-identical to cadence 1, so the same chained three-stage
    * DuckDB oracle applies verbatim. */
  private val qContinuousCorpusLog = Q(
    "q_continuous_corpus_log",
    (s, d) => streaming.CorpusPipeline.continuousOverFile(s, d, k = 5,
      compactEvery = 3),
    qContinuousCorpus.oracle)

  /** The SCALE path for `q_knn_graph` (rows-only): IVF multi-probe
    * graph construction — every vector explodes to its `nprobe`
    * nearest k-means cells, candidate pairs are vectors sharing a
    * probed cell, exact cosine re-ranks per node (the role
    * `sim_ivf_topk` plays for `q_sim_bruteforce`, applied to
    * whole-graph construction). Work is n²·nprobe²/nlist cosines —
    * linear in n at fixed cell occupancy — and no corpus collect
    * exists anywhere; recall < 1 by design — measured 0.998 at
    * sf0.001 and 0.89 at sf0.1 (r7, vs `q_knn_graph`) with adaptive
    * nlist (~32/cell) / nprobe=6; the r7 sweep also read fixed
    * nlist=64 at 0.77–0.92 and an LSH-bucket variant at 0.62/14 s,
    * both rejected. SimilaritySpec floors 0.85 against the exact
    * graph. */
  private val qKnnGraphIvf = Q(
    "q_knn_graph_ivf",
    (s, d) => operators.Ivf.knnGraph(
        Tables.embeddings(s, d), "vec_id", "embedding",
        k = 5, nprobe = 6, targetCell = 32)
      .orderBy("query_id", "neighbor_id"),
    None)

  /** Grid-cell ORACLE-PROOF twin of `q_knn_graph_ivf` — the
    * `sim_ivf_topk_grid` pattern applied to WHOLE-GRAPH construction:
    * the corpus probes its own deterministic floor-grid cells (±1 per
    * dim), candidates are cell-sharing pairs, exact cosine re-ranks
    * per node — and the oracle re-derives cell assignment, probe
    * expansion, the self-join AND the per-node top-k, pinning the
    * graph-construction candidate algebra end to end (k-means cells
    * stay the production path; the node-coverage contract — a vector
    * alone in its probed cells emits no rows — is shared and equally
    * re-derived). Cell size 0.05 on 2 unit-normalized dims keeps cell
    * occupancy bounded at bench scale while leaving real neighbor
    * structure inside cells. */
  private val qKnnGraphGrid = {
    val (g, k) = (0.05, 5)
    Q(
      "q_knn_graph_grid",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        operators.Ivf.topkGrid(e, "vec_id", "embedding", e,
          k = k, gridDims = 2, gridSize = g)
      },
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS f,
           |  sqrt(list_sum(list_transform(list_zip(embedding, embedding),
           |       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS n
           | FROM embeddings),
           |a AS (SELECT id, f,
           |  CAST(floor(CAST(f[1] AS DOUBLE) / n / $g) AS BIGINT) AS c1,
           |  CAST(floor(CAST(f[2] AS DOUBLE) / n / $g) AS BIGINT) AS c2
           | FROM v WHERE n > 0),
           |probes AS (SELECT q.id, q.f, q.c1 + dx.o AS c1, q.c2 + dy.o AS c2
           | FROM a q, (VALUES (-1),(0),(1)) dx(o), (VALUES (-1),(0),(1)) dy(o)),
           |cand AS (SELECT p.id AS query_id, c.id AS neighbor_id,
           |  round(${duckCosine("p.f", "c.f")}, 6) AS cos
           | FROM probes p JOIN a c ON c.c1 = p.c1 AND c.c2 = p.c2 AND c.id <> p.id)
           |SELECT query_id, neighbor_id, cos FROM (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM cand) WHERE rn <= $k ORDER BY query_id, neighbor_id""".stripMargin))
  }

  /** Retrieval-quality EVAL — the measurement harness every vector
    * index ships with: per query, recall@k and reciprocal rank of an
    * approximate serve tier against the exact ground truth. The exact
    * side is the proven `q_knn_graph` serve algebra restricted to a
    * deterministic query slice (vec_id % 20 = 0 — the slice bounds the
    * oracle's quadratic side only); the approximate side is the
    * grid-cell twin (`sim_ivf_topk_grid` algebra), chosen BECAUSE both
    * sides are fully DuckDB-re-derivable — so the recall/MRR
    * measurement algebra itself is oracle-pinned end to end, not just
    * floored in a JVM spec. recall = n_hit / n_exact (robust when the
    * corpus holds fewer than k candidates); rr = 1/rank of the exact
    * top-1 within the approx list, 0 when the approx tier missed it
    * (including queries the grid emits nothing for — lone-cell
    * vectors, the shared node-coverage contract). Grid size 0.15 is
    * the mid-curve operating point on the test corpus (measured
    * recall@5 sweep: 0.19 @ 0.05, 0.82 @ 0.15, 0.95 @ 0.25) — the
    * eval shows a real, non-saturated measurement.
    *
    * Shape: one serve scan (slice × broadcast shard), one grid
    * candidate join, then four query_id-keyed joins over |slice|·k
    * rows — every post-serve frame slice-bounded; at 100 TB the eval
    * slice is the knob and the serve/grid paths are the proven
    * scale paths. */
  private val qRetrievalEval = {
    import org.apache.spark.sql.expressions.Window
    val (k, g, mod) = (5, 0.15, 20)
    Q(
      "q_retrieval_eval",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qs = e.filter(col("vec_id") % mod === 0)
        val shard = operators.AnnServe.fitShard(e)
        val wq = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id").asc)
        val ex = operators.AnnServe.topkRows(qs, shard, k = k)
          .withColumn("rn", row_number().over(wq))
          .localCheckpoint()
        val ap = operators.Ivf.topkGrid(e, "vec_id", "embedding", qs,
            k = k, gridDims = 2, gridSize = g)
          .withColumn("rn", row_number().over(wq))
          .localCheckpoint()
        val nex = ex.groupBy("query_id")
          .agg(count(lit(1)).cast("int").as("n_exact"))
        val nap = ap.groupBy("query_id")
          .agg(count(lit(1)).cast("int").as("n_approx"))
        val hit = ex.select("query_id", "neighbor_id")
          .join(ap.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).cast("int").as("n_hit"))
        val rr = ex.filter(col("rn") === 1)
          .select("query_id", "neighbor_id")
          .join(ap.select(col("query_id"), col("neighbor_id"),
              col("rn").as("__arn")),
            Seq("query_id", "neighbor_id"), "left")
          .select(col("query_id"),
            coalesce(round(lit(1.0) / col("__arn"), 6), lit(0.0)).as("rr"))
        nex.join(nap, Seq("query_id"), "left")
          .join(hit, Seq("query_id"), "left")
          .join(rr, Seq("query_id"), "left")
          .select(col("query_id"), col("n_exact"),
            coalesce(col("n_approx"), lit(0)).cast("int").as("n_approx"),
            coalesce(col("n_hit"), lit(0)).cast("int").as("n_hit"),
            round(coalesce(col("n_hit"), lit(0)) /
              col("n_exact").cast("double"), 6).as("recall"),
            coalesce(col("rr"), lit(0.0)).as("rr"))
          .orderBy("query_id")
      },
      Some(s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % $mod = 0),
           |xc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |  round(${duckCosine("q.embedding", "e.embedding")}, 6) AS cos
           | FROM q, embeddings e WHERE e.vec_id <> q.vec_id),
           |ex AS (SELECT query_id, neighbor_id, rn FROM (
           | SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM xc) WHERE rn <= $k),
           |v AS (SELECT vec_id AS id, embedding AS f,
           |  sqrt(list_sum(list_transform(list_zip(embedding, embedding),
           |       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS n
           | FROM embeddings),
           |a AS (SELECT id, f,
           |  CAST(floor(CAST(f[1] AS DOUBLE) / n / $g) AS BIGINT) AS c1,
           |  CAST(floor(CAST(f[2] AS DOUBLE) / n / $g) AS BIGINT) AS c2
           | FROM v WHERE n > 0),
           |probes AS (SELECT p.id, p.f, p.c1 + dx.o AS c1, p.c2 + dy.o AS c2
           | FROM (SELECT * FROM a WHERE id % $mod = 0) p,
           |      (VALUES (-1),(0),(1)) dx(o), (VALUES (-1),(0),(1)) dy(o)),
           |ac AS (SELECT p.id AS query_id, c.id AS neighbor_id,
           |  round(${duckCosine("p.f", "c.f")}, 6) AS cos
           | FROM probes p JOIN a c ON c.c1 = p.c1 AND c.c2 = p.c2 AND c.id <> p.id),
           |ap AS (SELECT query_id, neighbor_id, rn FROM (
           | SELECT query_id, neighbor_id,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM ac) WHERE rn <= $k),
           |nex AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id),
           |nap AS (SELECT query_id, count(*) AS n_approx FROM ap GROUP BY query_id),
           |hit AS (SELECT ex.query_id, count(*) AS n_hit
           | FROM ex JOIN ap ON ap.query_id = ex.query_id
           |  AND ap.neighbor_id = ex.neighbor_id GROUP BY ex.query_id),
           |rr AS (SELECT e1.query_id,
           |  coalesce(round(1.0 / ap.rn, 6), 0.0) AS rr
           | FROM (SELECT query_id, neighbor_id FROM ex WHERE rn = 1) e1
           | LEFT JOIN ap ON ap.query_id = e1.query_id
           |  AND ap.neighbor_id = e1.neighbor_id)
           |SELECT nex.query_id, CAST(n_exact AS INT) AS n_exact,
           | CAST(coalesce(n_approx, 0) AS INT) AS n_approx,
           | CAST(coalesce(n_hit, 0) AS INT) AS n_hit,
           | round(coalesce(n_hit, 0) / CAST(n_exact AS DOUBLE), 6) AS recall,
           | coalesce(rr.rr, 0.0) AS rr
           |FROM nex LEFT JOIN nap ON nap.query_id = nex.query_id
           | LEFT JOIN hit ON hit.query_id = nex.query_id
           | LEFT JOIN rr ON rr.query_id = nex.query_id
           |ORDER BY nex.query_id""".stripMargin))
  }

  /** The EMBEDDING-SIDE flagship — `q_pretrain_pipeline`'s vector
    * twin: the full semantic-curation run over the embedding corpus
    * as ONE declarative plan, every stage the already-oracle-proven
    * operator and the chained DuckDB oracle re-deriving the whole
    * composition end to end. Stages: grid semantic dedup (cells →
    * md5-capped within-cell cosine pairs → CC → min-id survivors) →
    * exact kNN graph over the SURVIVORS (one serve scan; the IVF/
    * two-level paths substitute past one shard) → mutual-kNN edges →
    * CC clusters → per-cluster rollup (size + min-id representative).
    * The output is the curated corpus map a training run consumes:
    * which vectors remain after near-dup removal and how they group
    * semantically. */
  private val qEmbedPipeline = {
    val (gridDims, g, dthr, cap) = (2, 0.25, 0.3, 64)
    val (kNb, mthr) = (5, 0.3)
    val cellSql = (1 to gridDims).map(d =>
      s"CAST(CAST(floor(CAST(f[$d] AS DOUBLE) / n / $g) AS BIGINT) AS VARCHAR)")
      .mkString("concat_ws(',', ", ", ", ")")
    Q(
      "q_embed_pipeline",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val dedup = operators.Dedup.semanticDedupGrid(
          e, "vec_id", "embedding",
          gridDims = gridDims, gridSize = g, minCosine = dthr, cellCap = cap)
        val survivors = e.join(
          dedup.filter(col("is_survivor") === 1)
            .select(col("id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        val shard = operators.AnnServe.fitShard(survivors)
        val knn = operators.AnnServe.topkRows(survivors, shard, k = kNb)
          .filter(col("cos") >= mthr)
          .localCheckpoint()
        val mutual = knn.as("a").join(knn.as("b"),
            col("b.query_id") === col("a.neighbor_id") &&
              col("b.neighbor_id") === col("a.query_id") &&
              col("a.query_id") < col("a.neighbor_id"))
          .select(col("a.query_id").as("doc_a"), col("a.neighbor_id").as("doc_b"))
        val cc = operators.Dedup.connectedComponents(mutual, "doc_a", "doc_b")
          .select(col("node").as("vec_id"), col("cluster_id").as("__cid"))
        val labeled = survivors.select("vec_id")
          .join(cc, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("__cid"), col("vec_id")).as("cluster_id"))
        val sizes = labeled.groupBy("cluster_id")
          .agg(count(lit(1)).cast("int").as("cluster_size"))
        labeled.join(sizes, Seq("cluster_id"))
          .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
            (col("vec_id") === col("cluster_id")).cast("int").as("is_rep"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE v AS (SELECT vec_id AS id, embedding AS f,
           |  sqrt(list_sum(list_transform(list_zip(embedding, embedding),
           |       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS n
           | FROM embeddings),
           |a AS (SELECT id, f, $cellSql AS cell FROM v WHERE n > 0),
           |cp AS (SELECT id, f, cell,
           |  row_number() OVER (PARTITION BY cell ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn FROM a),
           |kc AS (SELECT id, f, cell FROM cp WHERE rn <= $cap),
           |dpairs AS (SELECT x.id AS id_a, y.id AS id_b
           | FROM kc x JOIN kc y ON x.cell = y.cell AND x.id < y.id
           | WHERE round(${duckCosine("x.f", "y.f")}, 6) >= $dthr),
           |dedges AS (SELECT id_a AS src, id_b AS dst FROM dpairs
           |           UNION SELECT id_b, id_a FROM dpairs),
           |dreach(node, label) AS (
           | SELECT src, src FROM dedges
           | UNION
           | SELECT e.dst, r.label FROM dreach r JOIN dedges e ON e.src = r.node),
           |dcc AS (SELECT node, min(label) AS cluster_id FROM dreach GROUP BY node),
           |sv AS (SELECT e.vec_id AS id, e.embedding AS f FROM embeddings e
           |       LEFT JOIN dcc ON e.vec_id = dcc.node
           |       WHERE dcc.node IS NULL OR dcc.node = dcc.cluster_id),
           |gc AS (SELECT q.id AS query_id, t.id AS neighbor_id,
           |  round(${duckCosine("q.f", "t.f")}, 6) AS cos
           | FROM sv q, sv t WHERE t.id <> q.id),
           |knn AS (SELECT query_id, neighbor_id, cos FROM (
           |  SELECT query_id, neighbor_id, cos,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           |  FROM gc) WHERE rn <= $kNb AND cos >= $mthr),
           |mutual AS (SELECT x.query_id AS doc_a, x.neighbor_id AS doc_b
           |  FROM knn x JOIN knn y ON y.query_id = x.neighbor_id
           |   AND y.neighbor_id = x.query_id WHERE x.query_id < x.neighbor_id),
           |medges AS (SELECT doc_a AS src, doc_b AS dst FROM mutual
           |           UNION SELECT doc_b, doc_a FROM mutual),
           |mreach(node, label) AS (
           | SELECT src, src FROM medges
           | UNION
           | SELECT e.dst, r.label FROM mreach r JOIN medges e ON e.src = r.node),
           |mcc AS (SELECT node, min(label) AS cluster_id FROM mreach GROUP BY node),
           |lab AS (SELECT s.id, coalesce(mcc.cluster_id, s.id) AS cluster_id
           |        FROM sv s LEFT JOIN mcc ON s.id = mcc.node),
           |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
           |SELECT l.id AS vec_id, l.cluster_id,
           | CAST(sz.cluster_size AS INT) AS cluster_size,
           | CAST(CASE WHEN l.id = l.cluster_id THEN 1 ELSE 0 END AS INT) AS is_rep
           |FROM lab l JOIN sz USING (cluster_id) ORDER BY vec_id""".stripMargin))
  }

  /** Mutual-kNN clustering over the embeddings table — the standard
    * robust graph clustering for vector corpora: an edge exists iff
    * each endpoint is in the OTHER's top-`kNb` (mutuality kills the
    * hub-node chaining that plain radius graphs suffer) and cosine ≥
    * the floor; clusters are connected components with min-id
    * survivors. The kNN graph is the one-scan serve pass
    * (`q_knn_graph`), mutuality is a self-join on the (small) edge
    * list — never on vectors — and the closure is the oracle-proven
    * hash-min CC. Fully oracle-checked: the DuckDB side restates the
    * graph, the mutual filter, and the recursive-CTE closure — the
    * first FULL oracle for vector clustering (the semantic-dedup
    * family's algebra was previously proven only via its grid twin +
    * the text-side CC oracle). */
  private val qKnnClusters = {
    val (kNb, thr) = (5, 0.3)
    Q(
      "q_knn_clusters",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val shard = operators.AnnServe.fitShard(e)
        // checkpoint before the mutuality self-join: the serve top-k
        // scan (the dominant cost) must run once, not per join side
        val knn = operators.AnnServe.topkRows(e, shard, k = kNb)
          .filter(col("cos") >= thr)
          .localCheckpoint()
        val mutual = knn.as("a").join(knn.as("b"),
            col("b.query_id") === col("a.neighbor_id") &&
              col("b.neighbor_id") === col("a.query_id") &&
              col("a.query_id") < col("a.neighbor_id"))
          .select(col("a.query_id").as("doc_a"), col("a.neighbor_id").as("doc_b"))
        operators.Dedup.connectedComponents(mutual, "doc_a", "doc_b")
          .withColumnRenamed("node", "vec_id")
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE c AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |  round(CASE WHEN sqrt(list_sum(list_transform(list_zip(q.embedding, q.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |           * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0
           |        THEN list_sum(list_transform(list_zip(q.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |           / (sqrt(list_sum(list_transform(list_zip(q.embedding, q.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |            * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
           |        ELSE 0.0 END, 6) AS cos
           | FROM embeddings q, embeddings e WHERE e.vec_id <> q.vec_id),
           |knn AS (SELECT query_id, neighbor_id, cos FROM (
           |  SELECT query_id, neighbor_id, cos,
           |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           |  FROM c) WHERE rn <= $kNb AND cos >= $thr),
           |mutual AS (SELECT a.query_id AS doc_a, a.neighbor_id AS doc_b
           |  FROM knn a JOIN knn b ON b.query_id = a.neighbor_id
           |   AND b.neighbor_id = a.query_id WHERE a.query_id < a.neighbor_id),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mutual
           |          UNION SELECT doc_b, doc_a FROM mutual),
           |reach(node, label) AS (
           | SELECT src, src FROM edges
           | UNION
           | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
           |SELECT node AS vec_id, min(label) AS cluster_id,
           | CAST(CASE WHEN node = min(label) THEN 1 ELSE 0 END AS INT) AS is_survivor
           |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin))
  }

  /** ANN top-k via AND-OR LSH buckets (rows-only) — the scale path for
    * `q_sim_bruteforce`: per-query candidates come from bucket
    * collisions (cost tracks near-pair density, not |corpus|·|queries|),
    * exact cosine re-ranks, per-query top-k. Recall < 1 by design;
    * SimilaritySpec measures it against the brute-force oracle. */
  private val qSimLshTopk = Q(
    "sim_lsh_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      // this corpus has a weak near/far gap (nearest ≈1.1 vs random
      // ≈1.41 euclidean) — wide buckets + many tables buy recall
      val edges = graft.functions.VectorLsh.candidateEdges(
        e, "vec_id", "f", dim = 64, L = 16, r = 2, w = 1.2, bucketCap = 512)
      val queries = edges.filter(col("id") < 10)
      val w = Window.partitionBy("id").orderBy(col("dist").asc, col("nid").asc)
      queries.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 10)
        .select(col("id").as("query_id"), col("nid").as("neighbor_id"),
                // unit vectors: cosine = 1 − d²/2
                round(lit(1.0) - col("dist") * col("dist") / lit(2.0), 6).as("cos"))
        .orderBy("query_id", "neighbor_id")
    },
    None)

  /** md5-portable ORACLE twin of `sim_lsh_topk` — the last un-pinned
    * candidate family: the projection matrix derives from md5 ("plane
    * t, dim j" → uniform[−1,1)), so DuckDB re-derives the planes, the
    * quantized AND-OR bucket keys, the ≤cap bucket filter, the
    * candidate pairs AND the per-query top-k — pinning random-
    * projection LSH end to end the way the md5 twins pinned minhash/
    * simhash/Bloom/KMV. Same L/r/w/cap as the production query; only
    * the plane distribution differs (uniform vs Gaussian — the twin
    * pins algebra, not the matrix draw). */
  private val qSimLshTopkMd5 = {
    val (lT, rp, w0, cap, k) = (16, 2, 1.2, 512, 10)
    val dim = 64
    Q(
      "sim_lsh_topk_md5",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
        val planes = graft.functions.VectorLsh.md5Planes(dim, lT * rp)
        val pairs = graft.functions.VectorLsh.candidatePairsKeys(
          e, "vec_id", "f",
          graft.functions.VectorLsh.bucketKeysPlanes(col("f"), planes, lT, rp, w0),
          bucketCap = cap)
        val edges = pairs
          .select(col("id_a").as("id"), col("id_b").as("nid"), col("dist"))
          .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("nid"),
            col("dist")))
        val w = Window.partitionBy("id").orderBy(col("dist").asc, col("nid").asc)
        edges.filter(col("id") < 10)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
          .select(col("id").as("query_id"), col("nid").as("neighbor_id"),
                  round(lit(1.0) - col("dist") * col("dist") / lit(2.0), 6).as("cos"))
          .orderBy("query_id", "neighbor_id")
      },
      Some(s"""WITH pl AS (SELECT t,
           |  list(2 * CAST(('0x' || substr(md5(t::VARCHAR || ':' || j::VARCHAR), 1, 13))::UBIGINT AS DOUBLE)
           |       / power(16, 13) - 1 ORDER BY j) AS g
           | FROM generate_series(0, ${lT * rp - 1}) s(t), generate_series(0, ${dim - 1}) q(j)
           | GROUP BY t),
           |v AS (SELECT vec_id AS id, embedding AS f FROM embeddings),
           |proj AS (SELECT id, t,
           |  CAST(floor(list_sum(list_transform(list_zip(g, f),
           |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / $w0) AS BIGINT) AS h
           | FROM v, pl),
           |keys AS (SELECT id, concat_ws('_', (t // $rp)::VARCHAR,
           |    array_to_string(list(h::VARCHAR ORDER BY t), '_')) AS k
           | FROM proj GROUP BY id, t // $rp),
           |small AS (SELECT k FROM keys GROUP BY k HAVING count(*) <= $cap),
           |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           | FROM (SELECT keys.id, keys.k FROM keys JOIN small USING (k)) a
           | JOIN (SELECT keys.id, keys.k FROM keys JOIN small USING (k)) b
           |   ON a.k = b.k AND a.id < b.id),
           |pd AS (SELECT id_a, id_b,
           |  sqrt(greatest(
           |    list_sum(list_transform(list_zip(va.f, va.f), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |    + list_sum(list_transform(list_zip(vb.f, vb.f), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |    - 2 * list_sum(list_transform(list_zip(va.f, vb.f), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
           |    0)) AS dist
           | FROM pairs JOIN v va ON va.id = id_a JOIN v vb ON vb.id = id_b),
           |edges AS (SELECT id_a AS id, id_b AS nid, dist FROM pd
           |          UNION ALL SELECT id_b, id_a, dist FROM pd)
           |SELECT query_id, neighbor_id, cos FROM (
           | SELECT id AS query_id, nid AS neighbor_id,
           |  round(1.0 - dist * dist / 2.0, 6) AS cos,
           |  row_number() OVER (PARTITION BY id ORDER BY dist ASC, nid ASC) AS rn
           | FROM edges WHERE id < 10) WHERE rn <= $k
           |ORDER BY query_id, neighbor_id""".stripMargin))
  }

  /** ANN top-k via IVF coarse quantization (rows-only) — the second
    * scale path for `q_sim_bruteforce`, orthogonal to LSH: k-means
    * cells bound each query's candidate set to ~nprobe/nlist of the
    * corpus; exact cosine re-ranks. Centroids are constant-size model
    * state; the candidate join shuffles on a small int cell id.
    * SimilaritySpec measures recall vs brute force. */
  private val qSimIvfTopk = Q(
    "sim_ivf_topk",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val cent = operators.Ivf.fitCentroids(e, "vec_id", "embedding", nlist = 16)
      operators.Ivf.topk(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), k = 10, cent, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"), col("cos"))
    },
    None)

  /** Grid-cell ORACLE-PROOF twin of `sim_ivf_topk` — the
    * `dedup_semantic_grid` pattern applied to ANN search: deterministic
    * floor-grid cells replace k-means, the probe list is the query's
    * cell ± 1 per grid dim, and the oracle re-derives cell assignment,
    * probe expansion, candidate join AND top-k — pinning the IVF
    * candidate algebra the way the md5 twins pinned minhash. K-means
    * stays the production quantizer; this is the provable stand-in
    * with the identical plan shape. */
  private val qSimIvfTopkGrid = {
    val (g, k) = (0.25, 10)
    Q(
      "sim_ivf_topk_grid",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        operators.Ivf.topkGrid(e, "vec_id", "embedding",
          e.filter(col("vec_id") < 10), k = k, gridDims = 2, gridSize = g)
      },
      Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS f,
           |  sqrt(list_sum(list_transform(list_zip(embedding, embedding),
           |       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS n
           | FROM embeddings),
           |a AS (SELECT id, f,
           |  CAST(floor(CAST(f[1] AS DOUBLE) / n / $g) AS BIGINT) AS c1,
           |  CAST(floor(CAST(f[2] AS DOUBLE) / n / $g) AS BIGINT) AS c2
           | FROM v WHERE n > 0),
           |probes AS (SELECT q.id, q.f, q.c1 + dx.o AS c1, q.c2 + dy.o AS c2
           | FROM (SELECT * FROM a WHERE id < 10) q,
           |      (VALUES (-1),(0),(1)) dx(o), (VALUES (-1),(0),(1)) dy(o)),
           |cand AS (SELECT p.id AS query_id, c.id AS neighbor_id,
           |  round(${duckCosine("p.f", "c.f")}, 6) AS cos
           | FROM probes p JOIN a c ON c.c1 = p.c1 AND c.c2 = p.c2 AND c.id <> p.id)
           |SELECT query_id, neighbor_id, cos FROM (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM cand) WHERE rn <= $k ORDER BY query_id, neighbor_id""".stripMargin))
  }

  /** Unit-normalized embeddings (vec_id, u) — shared by the PQ paths
    * so their ADC euclidean ranking IS the cosine ranking. */
  private def unitEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      .withColumn("n", sqrt(VectorOps.dot(col("f"), col("f"))))
      .filter(col("n") > 0)
      .withColumn("u", graft.functions.ArrayMath.scale(col("f"), lit(1.0) / col("n")))
      .select(col("vec_id"), col("u"))

  /** ANN top-k via product quantization (rows-only) — the MEMORY-bound
    * scale path (LSH bounds candidates, IVF bounds probes, PQ bounds
    * bytes/vector: 16 byte-codes replace 64 floats, a 16× corpus-scan
    * reduction at 100 TB). SimilaritySpec measures recall vs brute
    * force. */
  private val qSimPqTopk = Q(
    "sim_pq_topk",
    (s, d) => {
      val e = unitEmbeddings(s, d)
      val model = operators.Pq.fit(e, "vec_id", "u", m = 16, ksub = 16)
      operators.Pq.topkReranked(
        operators.Pq.encode(e, "vec_id", "u", model), e,
        e.filter(col("vec_id") < 10), "vec_id", "u",
        k = 10, shortlist = 50, model)
    },
    None)

  /** The MEMORY-bound serve variant (rows-only): the PQ-compressed
    * index shard (m byte codes/vector — nominally 32× less vector
    * payload than the raw-double `q_sim_serve` shard at 64-dim/m=16;
    * 22× measured whole-shard incl. ids, PLANS.md serve soak) scanned
    * row-locally per query by one native ADC expression
    * (`functions.AdcTopK`): LUT build + m lookups per corpus vector.
    * Output is bit-identical to the batch `Pq.topk` join+window plan
    * over the same model (SimilaritySpec pins it), so the PQ recall
    * floors carry over; no join, no shuffle, no state — append-mode
    * streaming legal like every serve half. */
  private val qSimPqServe = Q(
    "sim_pq_serve",
    (s, d) => {
      val e = unitEmbeddings(s, d)
      val model = operators.Pq.fit(e, "vec_id", "u", m = 16, ksub = 16)
      val shard = operators.AnnServe.fitPqShard(e, model, "vec_id", "u")
      operators.AnnServe.pqTopkRows(
          e.filter(col("vec_id") < 10), shard, k = 10, "vec_id", "u")
        .orderBy("query_id", "neighbor_id")
    },
    None)

  /** md5-portable ORACLE twin of `sim_pq_topk` — the LAST sketch
    * family whose production path had only bit-parity coverage: the
    * codebooks derive from md5 ("pq:s:c:j" → uniform[−0.25, 0.25)),
    * so DuckDB re-derives the codebook matrix, the per-subspace
    * encode argmin (ties → smaller code, matching the native
    * first-min argmin), the query-side LUT, the ADC sum over
    * subspaces in ascending-s order (matching the native loop) and
    * the per-query top-k — pinning PQ's asymmetric-distance candidate
    * algebra end to end the way `sim_lsh_topk_md5` pinned LSH. Same
    * m/ksub shape class as production; random codebooks quantize
    * badly by design (the twin pins algebra, not codebook quality —
    * the fitted path keeps its bit-parity spec + recall floors). */
  private val qSimPqTopkMd5 = {
    val (m, ksub, dim, k) = (8, 8, 64, 10)
    val dsub = dim / m
    Q(
      "sim_pq_topk_md5",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val model = operators.Pq.md5Model(dim, m, ksub)
        operators.Pq.topk(
          operators.Pq.encode(e, "vec_id", "embedding", model),
          e.filter(col("vec_id") < 10), "vec_id", "embedding", k, model)
      },
      Some(s"""WITH cb AS (SELECT s, c,
           |  list(0.25 * (2 * CAST(('0x' || substr(md5('pq:' || s || ':' || c || ':' || j), 1, 13))::UBIGINT AS DOUBLE)
           |       / power(16, 13) - 1) ORDER BY j) AS cent
           | FROM generate_series(0, ${m - 1}) ss(s),
           |      generate_series(0, ${ksub - 1}) cc(c),
           |      generate_series(0, ${dsub - 1}) jj(j)
           | GROUP BY s, c),
           |v AS (SELECT vec_id AS id, embedding AS f FROM embeddings),
           |sub AS (SELECT id, s, list_slice(f, s * $dsub + 1, s * $dsub + $dsub) AS fs
           | FROM v, generate_series(0, ${m - 1}) ss(s)),
           |dist AS (SELECT id, s, c,
           |  list_sum(list_transform(list_zip(fs, cent),
           |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
           |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
           | FROM sub JOIN cb USING (s)),
           |code AS (SELECT id, s, c FROM (
           |  SELECT id, s, c,
           |   row_number() OVER (PARTITION BY id, s ORDER BY d2 ASC, c ASC) AS rn
           |  FROM dist) WHERE rn = 1),
           |adc AS (SELECT qd.id AS query_id, cn.id AS neighbor_id,
           |  round(list_sum(list(qd.d2 ORDER BY qd.s)), 6) AS approx_sqdist
           | FROM code cn JOIN dist qd ON qd.s = cn.s AND qd.c = cn.c
           | WHERE qd.id < 10 AND qd.id <> cn.id
           | GROUP BY qd.id, cn.id)
           |SELECT query_id, neighbor_id, approx_sqdist FROM (
           | SELECT query_id, neighbor_id, approx_sqdist,
           |  row_number() OVER (PARTITION BY query_id
           |    ORDER BY approx_sqdist ASC, neighbor_id ASC) AS rn
           | FROM adc) WHERE rn <= $k
           |ORDER BY query_id, neighbor_id""".stripMargin))
  }

  /** Shared oracle for the INT8 scalar-quantization (SQ8) pair: the
    * WHOLE quantizer is plain SQL algebra — per-dim min/max over the
    * corpus, step=(max−min)/255, code=clamp(floor((x−min)/step+0.5)),
    * dequantize through the same affine line, cosine of (raw query,
    * dequantized candidate), windowed top-k — so unlike the PQ tier
    * (rows-only, k-means codebooks), the compressed tier itself is
    * fully DuckDB-re-derivable. `floor(t + 0.5)` (round-half-up) is
    * deliberate: it is the one rounding Spark SQL and DuckDB state
    * identically, making the byte codes engine-portable the way the
    * md5 twins made minhash portable. */
  private val simSqSql =
    """WITH v AS (SELECT vec_id AS id, embedding AS f FROM embeddings),
           |dm AS (SELECT d, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx FROM (
           |  SELECT unnest(f) AS x, unnest(generate_series(1, len(f))) AS d FROM v) GROUP BY d),
           |mm AS (SELECT list(mn ORDER BY d) AS minl, list((mx - mn) / 255.0 ORDER BY d) AS stepl FROM dm),
           |g AS (SELECT id, list_transform(generate_series(1, len(f)), j ->
           |    CASE WHEN stepl[j] = 0 THEN minl[j]
           |         ELSE minl[j] + least(255.0, greatest(0.0,
           |                floor((CAST(f[j] AS DOUBLE) - minl[j]) / stepl[j] + 0.5))) * stepl[j] END) AS g
           |  FROM v, mm),
           |cand AS (SELECT q.id AS query_id, c.id AS neighbor_id,
           |    round(CASE WHEN sqrt(list_sum(list_transform(list_zip(q.f, q.f), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |             * sqrt(list_sum(list_transform(list_zip(c.g, c.g), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0
           |          THEN list_sum(list_transform(list_zip(q.f, c.g), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |             / (sqrt(list_sum(list_transform(list_zip(q.f, q.f), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |              * sqrt(list_sum(list_transform(list_zip(c.g, c.g), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
           |          ELSE 0.0 END, 6) AS cos
           |  FROM (SELECT * FROM v WHERE id < 10) q JOIN g c ON c.id <> q.id)
           |SELECT query_id, neighbor_id, cos FROM (
           | SELECT query_id, neighbor_id, cos,
           |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rn
           | FROM cand) WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin

  /** SQ8 ANN top-k, BATCH form (FULL oracle): the int8 scalar
    * quantizer as a declarative join+window plan — per-dim min/max in
    * ONE pass (2·dim agg expressions, no explode, no shuffle beyond
    * the partial agg), dequantization as a scan-side `transform`, then
    * the brute-force candidate join ranked on rounded cosine of (raw
    * query, dequantized candidate). Asymmetric like ADC: only the
    * stored side pays quantization error. This is the tier's algebra
    * twin; `sim_sq_serve` is the resident-shard serve path over the
    * same algebra. */
  private val qSimSqTopk = Q(
    "sim_sq_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val dim = e.select(size(col("f"))).head.getInt(0)
      val mm = e.agg(
        array((1 to dim).map(j => min(element_at(col("f"), j))): _*).as("minl"),
        array((1 to dim).map(j =>
          (max(element_at(col("f"), j)) - min(element_at(col("f"), j))) / 255.0): _*)
          .as("stepl"))
      val dq = e.crossJoin(broadcast(mm))
        .select(col("vec_id").as("nid"),
          transform(col("f"), (x, i) => {
            val mn = col("minl")(i)
            val st = col("stepl")(i)
            when(st === 0, mn).otherwise(
              mn + least(lit(255.0), greatest(lit(0.0),
                floor((x - mn) / st + lit(0.5)).cast("double"))) * st)
          }).as("g"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("f").as("qf"))
      val cos = round(VectorOps.cosine(col("qf"), col("g")), 6)
      val scored = dq.join(broadcast(q), col("nid") =!= col("query_id"))
        .select(col("query_id"), col("nid").as("neighbor_id"), cos.as("cos"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 10)
        .drop("__rn").orderBy("query_id", "neighbor_id")
    },
    Some(simSqSql))

  /** SQ8 DISTORTION report — the second standard index-quality
    * measurement next to `q_retrieval_eval`'s recall/MRR: per vector,
    * the L2 reconstruction error and cosine fidelity of the int8
    * scalar quantizer's round trip (quantize → dequantize through the
    * same affine line the serve tier uses). The whole measurement is
    * the SQ8 algebra plus one zip — fully DuckDB-re-derivable, so the
    * distortion numbers a capacity-planning decision reads off this
    * report are oracle-pinned, not spec-floored. Shape: one 2·dim
    * min/max agg (1-row broadcast) + a scan-side transform/zip per
    * row — zero shuffle beyond the partial agg, linear at any scale. */
  private val qSqDistortion = Q(
    "q_sq_distortion",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("f"))
      val dim = e.select(size(col("f"))).head.getInt(0)
      val mm = e.agg(
        array((1 to dim).map(j => min(element_at(col("f"), j))): _*).as("minl"),
        array((1 to dim).map(j =>
          (max(element_at(col("f"), j)) - min(element_at(col("f"), j))) / 255.0): _*)
          .as("stepl"))
      val (l2, fid) = operators.Embeddings.sqDistortionCols(
        col("f"), col("minl"), col("stepl"))
      e.crossJoin(broadcast(mm))
        .select(col("vec_id"), l2.as("l2_err"), fid.as("cos_fid"))
        .orderBy("vec_id")
    },
    Some(s"""WITH v AS (SELECT vec_id AS id, embedding AS f FROM embeddings),
         |dm AS (SELECT d, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx FROM (
         |  SELECT unnest(f) AS x, unnest(generate_series(1, len(f))) AS d FROM v) GROUP BY d),
         |mm AS (SELECT list(mn ORDER BY d) AS minl, list((mx - mn) / 255.0 ORDER BY d) AS stepl FROM dm),
         |g AS (SELECT id, list_transform(generate_series(1, len(f)), j ->
         |    CASE WHEN stepl[j] = 0 THEN minl[j]
         |         ELSE minl[j] + least(255.0, greatest(0.0,
         |                floor((CAST(f[j] AS DOUBLE) - minl[j]) / stepl[j] + 0.5))) * stepl[j] END) AS g
         |  FROM v, mm)
         |SELECT v.id AS vec_id,
         | round(sqrt(list_sum(list_transform(list_zip(v.f, g.g),
         |   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |      * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))), 6) AS l2_err,
         | round(${duckCosine("v.f", "g.g")}, 6) AS cos_fid
         |FROM v JOIN g ON g.id = v.id ORDER BY vec_id""".stripMargin))

  /** The distortion report's STREAMING twin: affine line fitted
    * batch-side (constant-size model), arriving vectors scored
    * row-locally through the shared `Embeddings.sqDistortionCols`
    * algebra — stateless append, the batch oracle applies verbatim. */
  private val qSqDistortionStream = Q(
    "q_sq_distortion_stream",
    (s, d) => streaming.CorpusStream.sqDistortionOverFile(s, d)
      .orderBy("vec_id"),
    qSqDistortion.oracle)

  /** SQ8 SERVE (FULL oracle — the first COMPRESSED serve tier the
    * DuckDB gate checks end to end): the resident shard holds one byte
    * per component (8× less vector RAM than the raw `q_sim_serve`
    * shard) plus the per-dim dequantization line, scanned row-locally
    * by one native codegen expression (`functions.SqTopK`) that
    * dequantizes on the fly. Bit-identical to `sim_sq_topk` and the
    * shared oracle by construction (same line, same clamp, same
    * accumulation order, norms fitted once at build); no join, no
    * shuffle, no state — append-mode streaming legal like every serve
    * half. */
  private val qSimSqServe = Q(
    "sim_sq_serve",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val shard = operators.AnnServe.fitSqShard(e)
      operators.AnnServe.sqTopkRows(e.filter(col("vec_id") < 10), shard, k = 10)
        .orderBy("query_id", "neighbor_id")
    },
    Some(simSqSql))

  /** The SQ8 tier's STREAMING twin — a live query feed against the
    * resident byte-code shard (stateless append, no join, no state);
    * drained end state ≡ the batch `sim_sq_serve`, so the full SQL
    * quantizer oracle applies verbatim even live. */
  private val qSimSqServeStream = Q(
    "sim_sq_serve_stream",
    (s, d) => streaming.CorpusStream.sqServeOverFile(s, d, k = 10)
      .orderBy("query_id", "neighbor_id"),
    Some(simSqSql))

  /** ANN top-k via IVF-PQ (rows-only) — both scale axes composed:
    * cells bound which rows a query touches, codes bound the bytes per
    * touched row, exact re-rank on the shortlist only. Parameters from
    * the r5 sweep (nprobe × shortlist × ksub × m at
    * sf0.001): nprobe 8→12 and shortlist 50→100 lift recall@10
    * 0.82 → 0.96 at unchanged model size and runtime — quantization
    * error was dropping true neighbors out of the 50-row ADC
    * shortlist, and a wider shortlist + more probed cells recovers
    * them; cost stays cell-bounded (nprobe/nlist of the corpus). */
  private val qSimIvfPqTopk = Q(
    "sim_ivfpq_topk",
    (s, d) => {
      val e = unitEmbeddings(s, d)
      val cent = operators.Ivf.fitCentroids(e, "vec_id", "u", nlist = 16)
      val model = operators.Pq.fit(e, "vec_id", "u", m = 16, ksub = 16)
      operators.Pq.topkIvfPq(e, "vec_id", "u",
        e.filter(col("vec_id") < 10), k = 10, cent, nprobe = 12,
        model, shortlist = 100)
    },
    None)

  /** GRAPH-BEAM ANN serve (rows-only) — the search tier over the kNN
    * graph the engine already maintains (`Ivf.knnGraph` batch,
    * `streaming.GraphStream` live): symmetrized adjacency + IVF-seeded
    * entry points resident in a `GraphShard`, each query answered by
    * best-first beam search (`functions.GraphBeamTopK` — HNSW layer-0
    * semantics). Per query O(visited·degree·dim) with visited ≤
    * maxVisit, vs the flat serve's O(n·dim) full scan — the
    * billion-vector serve path; recall@10 ≥ 0.9 vs brute force gated
    * in SimilaritySpec, plus an ef ≥ n exactness pin. */
  private val qSimGraphTopk = Q(
    "sim_graph_topk",
    (s, d) => {
      val e = Tables.embeddings(s, d)
      val graph = operators.Ivf.knnGraph(e, "vec_id", "embedding", k = 8)
      val shard = operators.AnnServe.fitGraphShard(e, graph)
      operators.AnnServe.graphTopkRows(
          e.filter(col("vec_id") < 10), shard, k = 10, ef = 64)
        .orderBy("query_id", "neighbor_id")
    },
    None)

  /** The graph-beam tier's STREAMING twin (rows-only like its batch
    * half): same batch-fitted graph shard, same (k, ef) parameters, a
    * live query feed through the row-local beam walk. The beam is
    * deterministic in the shard, so the drained end state equals
    * `sim_graph_topk` row for row — pinned exactly in SimilaritySpec;
    * refresh-version parity lives in StreamingSpec. */
  private val qSimGraphTopkStream = Q(
    "sim_graph_topk_stream",
    (s, d) => streaming.CorpusStream.graphServeOverFile(s, d, k = 10, ef = 64)
      .orderBy("query_id", "neighbor_id"),
    None)

  /** Multimodal pipeline over the documents table AS binary media
    * (rows-only): text bytes are wrapped into GENUINE containers —
    * P5 images and PCM WAV clips parse/decode for real
    * (`multimodal.Codecs`), video rows remain the documented stub —
    * so the per-partition iterator decode, real pixel resize and
    * frame-sampling explode run on true codec output. Output is
    * scalar-only (norm + first component + sampled-frame count): the
    * driver's rows-only harness sorts every output column, and array
    * columns are unsortable there (the r1 ml_preproc lesson). */
  private val qMediaFeatures = Q(
    "media_features",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val media = multimodal.Media.fromDocuments(docs, "doc_id", "text")
      val feats = multimodal.Media
        .decodeFeatures(multimodal.Media.resize(media, 32, 32), dim = 16)
        .withColumn("f", col("features").cast("array<double>"))
        .select(col("media_id"), col("kind"),
                round(sqrt(VectorOps.dot(col("f"), col("f"))), 6).as("feat_norm"),
                round(element_at(col("f"), 1), 6).as("f0"))
      val frames = multimodal.Media.sampleFrames(media, stride = 4, dim = 8)
        .groupBy("media_id").agg(count(lit(1)).as("n_sampled_frames"))
      feats.join(frames, Seq("media_id"), "left")
        .na.fill(0L, Seq("n_sampled_frames"))
        .orderBy("media_id")
    },
    None)

  /** Multimodal retrieval (rows-only): the media pipeline feeding the
    * similarity family — every document wrapped as a GENUINE P5 image,
    * per-partition real pixel decode to an embedding column →
    * brute-force cosine top-k ("find similar media"). The flow (opaque
    * bytes in, ANN-ready vectors out, same top-k machinery as the
    * text-side paths) is the production shape. Scale path: persist the
    * decoded vectors and switch the last stage to LSH/IVF/PQ exactly
    * as the embeddings table does. */
  private val qMediaEmbedTopk = Q(
    "media_embed_topk",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val media = multimodal.Media.imagesFromDocuments(docs, "doc_id", "text")
      val emb = multimodal.Media.decodeFeatures(media, dim = 32)
        .select(col("media_id"), col("features").cast("array<double>").as("f"))
      val q = emb.filter(col("media_id") < 10)
        .select(col("media_id").as("query_id"), col("f").as("qf"))
      val cos = round(VectorOps.cosine(col("qf"), col("f")), 6)
      val scored = emb.join(broadcast(q), col("media_id") =!= col("query_id"))
        .select(col("query_id"), col("media_id").as("neighbor_id"), cos.as("cos"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= 10)
        .drop("__rn").orderBy("query_id", "neighbor_id")
    },
    None)

  /** Audio frame analysis as a DECLARED family (rows-only): every
    * document wrapped as a genuine 16-bit PCM WAV clip, per-partition
    * real RIFF/WAVE parse (`Codecs.decodeWav`) to raw samples, then
    * the two NATIVE frame expressions — `FrameEnergy` (short-time RMS
    * envelope) and `SpectralFlux` (rectified DFT-magnitude onset
    * strength) — inside whole-stage codegen. Output is scalar-only
    * summaries (frame count, peak/mean energy, total flux): the
    * rows-only harness sorts every output column and arrays are
    * unsortable there. Scale posture: decode + frame analysis are
    * embarrassingly parallel scan-side work with zero shuffles before
    * the final order; 100 TB of audio streams through mapPartitions
    * batches exactly like the image path. */
  private val qMediaAudioFeatures = Q(
    "media_audio_features",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val media = multimodal.Media.audioFromDocuments(docs, "doc_id", "text")
      val au = multimodal.Media.decodeAudio(media)
      val energy = functions.AudioOps.frameEnergy(col("samples"), 128, 64)
      val flux = functions.AudioOps.spectralFlux(col("samples"), 128, 64, 16)
      au.select(col("media_id"), col("sample_rate"),
          energy.as("e"), flux.as("fx"))
        .select(col("media_id"), col("sample_rate"),
          size(col("e")).as("n_frames"),
          round(coalesce(array_max(col("e")), lit(0.0)), 6).as("peak_energy"),
          round(coalesce(
            expr("aggregate(e, 0D, (a, x) -> a + x)") /
              nullif(size(col("e")).cast("double"), lit(0.0)), lit(0.0)), 6)
            .as("mean_energy"),
          round(coalesce(expr("aggregate(fx, 0D, (a, x) -> a + x)"), lit(0.0)), 6)
            .as("onset_flux"))
        .orderBy("media_id")
    },
    None)

  /** Audio retrieval riding the ANN SERVE machinery (rows-only): WAV
    * clips decode to RMS-envelope feature vectors (`decodeFeatures`'s
    * real WAV branch), which fit into the standard `AnnShard` and
    * answer via the native `cosineTopK` expression — the same
    * exchange-free serve pass as `q_sim_serve`, proving audio is a
    * first-class modality of the serve tier, not a separate code
    * path. Scale path: the decoded vectors persist once and the shard
    * machinery (sharded/SQ8/PQ/refresh) applies unchanged. */
  private val qMediaAudioTopk = Q(
    "media_audio_topk",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val media = multimodal.Media.audioFromDocuments(docs, "doc_id", "text")
      val emb = multimodal.Media.decodeFeatures(media, dim = 32)
        .select(col("media_id"), col("features").cast("array<double>").as("f"))
      val shard = operators.AnnServe.fitShard(emb, "media_id", "f")
      operators.AnnServe.topkRows(
          emb.filter(col("media_id") < 10), shard, k = 10, "media_id", "f")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "neighbor_id")
    },
    None)

  /** Video frame analysis as a DECLARED family (rows-only): every
    * document wrapped as a GENUINE uncompressed-DIB AVI
    * (`Codecs.encodeAviDib` — a container any AVI reader plays),
    * parsed ONCE per video and every frame really decoded
    * (`Codecs.parseAvi` + `decodeVideoFrame`: RIFF walk, BGR24
    * bottom-up rows → Rec.601 luma) to pooled block-mean features.
    * Temporal analysis is DECLARATIVE Spark: per-frame mean luma, and
    * motion energy as the average L1 step between consecutive frame
    * vectors via one `lag` window + `zip_with`/`aggregate` — no UDF.
    * Output is scalar-only summaries (the rows-only harness sorts
    * every column; arrays are unsortable there). Scale posture:
    * container parse + frame decode are scan-side mapPartitions work;
    * the only shuffle is the per-video window/agg on media_id, whose
    * row count is frames-per-video × videos — bounded fan-out, no
    * corpus-wide join. */
  private val qMediaVideoFeatures = Q(
    "media_video_features",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val media = multimodal.Media.videosFromDocuments(docs, "doc_id", "text")
      val frames = multimodal.Media.sampleFrames(media, stride = 1, dim = 8)
        .withColumn("f", col("frame_features").cast("array<double>"))
      val w = Window.partitionBy("media_id").orderBy("frame_idx")
      frames
        .withColumn("__prev", lag(col("f"), 1).over(w))
        .withColumn("__mean",
          expr("aggregate(f, 0D, (a, x) -> a + x)") / size(col("f")))
        .withColumn("__step",
          expr("aggregate(zip_with(f, __prev, (a, b) -> abs(a - b)), 0D," +
               " (acc, x) -> acc + x)") / size(col("f")))
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
             round(avg(col("__mean")), 6).as("mean_luma"),
             round(coalesce(avg(col("__step")), lit(0.0)), 6).as("motion_energy"))
        .orderBy("media_id")
    },
    None)

  /** Video retrieval riding the ANN SERVE machinery (rows-only): every
    * video's frames really decode, then TEMPORAL MEAN POOLING — the
    * standard cheap video embedding (per-dimension mean over frames,
    * computed declaratively: posexplode → per-(video, dim) avg →
    * position-sorted re-assembly) — feeds the standard `AnnShard` /
    * `cosineTopK` serve pass, exactly like the image and audio
    * modalities: video is a first-class member of the serve tier, not
    * a separate code path. Scale path: the pooled vectors persist once
    * and the shard machinery (sharded/SQ8/PQ/refresh) applies
    * unchanged. */
  private val qMediaVideoTopk = Q(
    "media_video_topk",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val media = multimodal.Media.videosFromDocuments(docs, "doc_id", "text")
      val frames = multimodal.Media.sampleFrames(media, stride = 1, dim = 16)
        .select(col("media_id"),
          posexplode(col("frame_features").cast("array<double>"))
            .as(Seq("pos", "v")))
      val emb = frames.groupBy("media_id", "pos").agg(avg("v").as("v"))
        .groupBy("media_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, v)))," +
                  " x -> x.v)").as("f"))
      val shard = operators.AnnServe.fitShard(emb, "media_id", "f")
      operators.AnnServe.topkRows(
          emb.filter(col("media_id") < 10), shard, k = 10, "media_id", "f")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "neighbor_id")
    },
    None)

  /** The media family's ORACLE TWINS (the md5-twin pattern applied to
    * codecs): each modality's generator is deterministic integer
    * arithmetic over the document's text bytes, each decoder recovers
    * those bytes EXACTLY (`Media.imageIntStats` Scaladoc for the
    * float-rounding argument), so DuckDB can recompute per-document
    * integer aggregates from the text alone — never touching the
    * container — and hash-compare them against the Spark path that
    * really encodes the P5/WAV/AVI bytes, parses them back and
    * decodes. A mismatch anywhere in header layout, stride padding,
    * bottom-up flip, sample packing or luma math breaks the hash, so
    * the whole codec round trip is oracle-pinned end to end. Both
    * sides sanitize text to printable ASCII first (identical regex
    * class) so SQL `ord(substr(..))` indexes the same byte stream as
    * the JVM's UTF-8 `getBytes`. */
  private def asciiDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("text", regexp_replace(col("text"), "[^ -~]", ""))

  private val mediaTwinCte =
    """WITH t AS (
      |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, s, length(s) AS len FROM t
      |)""".stripMargin

  private val qMediaImageInt = Q(
    "media_image_int",
    (s, d) => {
      val media = multimodal.Media.imagesFromDocuments(
        asciiDocs(s, d), "doc_id", "text")
      multimodal.Media.imageIntStats(media).orderBy("media_id")
    },
    Some(s"""$mediaTwinCte
      |SELECT doc_id AS media_id, 4096 AS n_px,
      |  CAST(SUM(CASE WHEN len = 0 THEN 0
      |           ELSE ord(substr(s, (i % len) + 1, 1)) END) AS BIGINT) AS px_sum
      |FROM b CROSS JOIN generate_series(0, 4095) g(i)
      |GROUP BY doc_id ORDER BY media_id""".stripMargin))

  private val qMediaAudioInt = Q(
    "media_audio_int",
    (s, d) => {
      val media = multimodal.Media.audioFromDocuments(
        asciiDocs(s, d), "doc_id", "text")
      multimodal.Media.audioIntStats(media).orderBy("media_id")
    },
    Some(s"""$mediaTwinCte
      |SELECT doc_id AS media_id,
      |  CAST(GREATEST(LEAST(len, 2048), 16) AS INTEGER) AS n_samples,
      |  CAST(SUM(((CASE WHEN len = 0 THEN 0
      |             ELSE ord(substr(s, (i % len) + 1, 1)) END) - 128) * 256)
      |       AS BIGINT) AS sample_sum
      |FROM b CROSS JOIN generate_series(0, 2047) g(i)
      |WHERE i < GREATEST(LEAST(len, 2048), 16)
      |GROUP BY doc_id, len ORDER BY media_id""".stripMargin))

  private val qMediaVideoInt = Q(
    "media_video_int",
    (s, d) => {
      val media = multimodal.Media.videosFromDocuments(
        asciiDocs(s, d), "doc_id", "text")
      multimodal.Media.videoIntStats(media).orderBy("media_id")
    },
    Some(s"""$mediaTwinCte,
      |px AS (
      |  SELECT doc_id, fi, i,
      |    CASE WHEN len = 0 THEN 0
      |         ELSE ord(substr(s, ((i + 7 * fi) % len) + 1, 1)) END AS p
      |  FROM b
      |  CROSS JOIN generate_series(0, 5) f(fi)
      |  CROSS JOIN generate_series(0, 191) g(i)
      |),
      |sums AS (
      |  SELECT doc_id, CAST(SUM(p) AS BIGINT) AS px_sum FROM px GROUP BY doc_id
      |),
      |mot AS (
      |  SELECT doc_id, CAST(SUM(ABS(p - lp)) AS BIGINT) AS motion_l1
      |  FROM (SELECT doc_id, p,
      |          LAG(p) OVER (PARTITION BY doc_id, i ORDER BY fi) AS lp
      |        FROM px)
      |  WHERE lp IS NOT NULL GROUP BY doc_id
      |)
      |SELECT s.doc_id AS media_id, 6 AS n_frames, s.px_sum, m.motion_l1
      |FROM sums s JOIN mot m ON s.doc_id = m.doc_id
      |ORDER BY media_id""".stripMargin))

  /** The media family's STREAMING twin (the one family member without
    * one until now): live codec round trip under the verbatim
    * arithmetic oracle of `media_video_int` — see
    * `CorpusStream.mediaVideoIntOverFile`. */
  private val qMediaVideoIntStream = Q(
    "media_video_int_stream",
    (s, d) => streaming.CorpusStream.mediaVideoIntOverFile(s, d)
      .orderBy("media_id"),
    qMediaVideoInt.oracle)

  /** SimHash near-dup pairs, ORACLE-PROVEN (the simhash analog of
    * `dedup_minhash_md5`): md5-derived token hashes and 4×16-bit chunk
    * arithmetic let DuckDB recompute signatures, banding, hot-bucket
    * capping, candidates AND the Hamming verify — the whole pipeline
    * hash-compared end to end. See `Dedup.simhashPairsPortableMd5`. */
  private val qDedupSimhashMd5 = {
    val (maxHamming, cap) = (3, 4096)
    // 64 per-bit majority sums and the 4 chunk reconstructions, generated
    // to keep the SQL and the Spark expressions structurally identical
    val sums = (0 until 64).map { p =>
      val (j, b) = (p / 16, p % 16)
      s"sum((k$j >> ${15 - b}) & 1) AS s$p"
    }.mkString(",\n           |  ")
    val chunkExprs = (0 until 4).map { j =>
      (0 until 16).map { b =>
        val p = 16 * j + b
        s"((CASE WHEN 2*s$p >= n THEN 1 ELSE 0 END) << ${15 - b})"
      }.mkString(" + ") + s" AS c$j"
    }.mkString(",\n           |  ")
    val chunkUnion = (0 until 4)
      .map(j => s"SELECT doc_id, $j AS chunk, c$j AS ch FROM sig")
      .mkString("\n           |  UNION ALL ")
    val hammingSql = (0 until 4)
      .map(j => s"bit_count(xor(sa.c$j, sb.c$j))").mkString(" + ")
    Q(
      "dedup_simhash_md5",
      (s, d) => operators.Dedup.simhashPairsPortableMd5(
        Tables.documents(s, d), "doc_id", "text", maxHamming, cap),
      Some(s"""WITH tok AS (SELECT doc_id,
           |  md5(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS h FROM documents),
           |k AS (SELECT doc_id,
           |  ('0x' || substr(h, 1, 4))::INT AS k0, ('0x' || substr(h, 5, 4))::INT AS k1,
           |  ('0x' || substr(h, 9, 4))::INT AS k2, ('0x' || substr(h, 13, 4))::INT AS k3
           | FROM tok),
           |agg AS (SELECT doc_id, count(*) AS n,
           |  $sums
           | FROM k GROUP BY doc_id),
           |sig AS (SELECT doc_id,
           |  $chunkExprs
           | FROM agg),
           |chunks AS ($chunkUnion),
           |cold AS (SELECT chunk, ch FROM (
           |  SELECT chunk, ch, count(*) AS f FROM chunks GROUP BY chunk, ch) WHERE f <= $cap),
           |kept AS (SELECT chunks.doc_id, chunks.chunk, chunks.ch
           |         FROM chunks JOIN cold USING (chunk, ch)),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           | FROM kept a JOIN kept b
           |   ON a.chunk = b.chunk AND a.ch = b.ch AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, CAST($hammingSql AS INT) AS hamming
           |FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
           |          JOIN sig sb ON cand.doc_b = sb.doc_id
           |WHERE $hammingSql <= $maxHamming
           |ORDER BY doc_a, doc_b""".stripMargin))
  }

  // =====================================================================
  // Temporal operators over events (sessionization, as-of join)
  // =====================================================================

  /** Gap-based sessionization (30-min gap) rolled up per session: the
    * canonical event-pipeline operator. One shuffle on user_id; the
    * running break-sum and the gap lag share a single Window node.
    * Session bounds are epoch-µs longs (engine-portable). */
  private val qSessionize = Q(
    "q_sessionize",
    (s, d) => operators.Temporal.sessionize(
        Tables.events(s, d), "user_id", "ts", "event_id", "value", gapSeconds = 1800)
      .orderBy("user_id", "session_id"),
    Some("""WITH x AS (SELECT user_id, event_id, ts, value,
           |  CASE WHEN lag(ts) OVER w IS NULL
           |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
           | FROM events
           | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT user_id, ts, value,
           |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                      ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
           | FROM x)
           |SELECT user_id, session_id, count(*) AS n_events,
           | min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
           | round(sum(value), 6) AS total_value
           |FROM s GROUP BY user_id, session_id
           |ORDER BY user_id, session_id""".stripMargin))

  /** The AS-BUILT streaming scoring path, oracle-checked end to end:
    * the events parquet streamed through `ScoreStream.scored`
    * (watermark → within-watermark dedup → stream-static profile join
    * → the shared `Pipelines.applyScoring` transform). Event ids are
    * unique in the testdata, so the dedup is a semantic no-op and the
    * oracle is the batch flagship SQL verbatim — streaming and batch
    * must produce hash-identical rows. */
  private val qScoreStream = Q(
    "q_score_stream",
    (s, d) => streaming.ScoreStream.scoredOverFile(s, d).orderBy("event_id"),
    Some(flagshipOracle))

  /** The AS-BUILT streaming sessionization, oracle-checked end to end:
    * the events parquet streamed through `SessionStream.closedSessions`
    * (watermark → flatMapGroupsWithState → Append emissions), compared
    * against the batch rollup restricted to sessions the final
    * watermark can close. The oracle recomputes that closure condition
    * independently: final watermark = ⌊max µs / 1000⌋ms − 10 min (the
    * ms-floor is Spark's event-time-stats granularity), a session is
    * emitted iff `end_us + gap ≤ watermark`. Everything else (grouping,
    * µs precision, HALF_UP rounding) must match the batch semantics or
    * the hash fails — this is the driver-gated proof that the streaming
    * twin computes the batch answer. */
  private val qSessionizeStream = Q(
    "q_sessionize_stream",
    (s, d) => streaming.SessionStream.closedSessionsOverFile(s, d)
      .select(col("user_id"), col("start_us"), col("end_us"),
              col("n_events"), col("total_value"))
      .orderBy("user_id", "start_us"),
    Some("""WITH x AS (SELECT user_id, event_id, ts, value,
           |  CASE WHEN lag(ts) OVER w IS NULL
           |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
           | FROM events
           | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT user_id, ts, value,
           |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                      ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
           | FROM x),
           |roll AS (SELECT user_id,
           |  CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
           |  CAST(max(epoch_us(ts)) AS BIGINT) AS end_us,
           |  count(*) AS n_events, round(sum(value), 6) AS total_value
           | FROM s GROUP BY user_id, session_id),
           |wm AS (SELECT ((max(epoch_us(ts)) // 1000) - 600000) * 1000 AS wm_us
           |       FROM events)
           |SELECT r.user_id, r.start_us, r.end_us, r.n_events, r.total_value
           |FROM roll r, wm WHERE r.end_us + 1800000000 <= wm.wm_us
           |ORDER BY user_id, start_us""".stripMargin))

  /** As-of join: seconds since the latest STRICTLY-prior 'error' event
    * of the same user (a point-in-time feature read). Spark side is
    * `Temporal.joinAsOf` — union + carry-forward, ONE shuffle, no
    * inequality join; the oracle states the same semantics as a
    * correlated max-subquery (which DuckDB decorrelates itself). */
  private val qAsofJoin = Q(
    "q_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"))
      operators.Temporal.joinAsOf(ev, errors, Seq("user_id"), "ts", "err_ts",
          matchedCols = Seq("err_ts"))
        .select(col("event_id"), col("user_id"),
                round((unix_micros(col("ts")) - unix_micros(col("err_ts")))
                        .cast("double") / lit(1000000.0), 6).as("secs_since_error"))
        .orderBy("event_id")
    },
    Some("""SELECT e.event_id, e.user_id,
           | round((epoch_us(e.ts) - epoch_us((
           |   SELECT max(r.ts) FROM events r
           |   WHERE r.user_id = e.user_id AND r.event_type = 'error' AND r.ts < e.ts
           | ))) / 1000000.0, 6) AS secs_since_error
           |FROM events e ORDER BY e.event_id""".stripMargin))

  /** Range join: concurrent-activity count per session — every event of
    * OTHER users (id ≥ 10) falling inside each user-<10 session
    * interval. Spark side is `Temporal.rangeJoinBinned` (interval →
    * overlapped hour bins, point → its bin, EQUI-join + exact
    * containment filter — never a BroadcastNestedLoop); the oracle
    * states the same join as a plain inequality join, which DuckDB
    * executes natively (IEJoin). */
  private val qRangeJoin = Q(
    "q_range_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val sess = operators.Temporal.sessionize(
          ev, "user_id", "ts", "event_id", "value", gapSeconds = 1800)
        .filter(col("user_id") < 10)
        .select(col("user_id").as("sess_user"), col("session_id"),
                col("start_us"), col("end_us"))
      val pts = ev.filter(col("user_id") >= 10)
        .select(unix_micros(col("ts")).as("ts_us"))
      operators.Temporal.rangeJoinBinned(pts, sess,
          "ts_us", "start_us", "end_us", binSize = 3600L * 1000000L)
        .groupBy("sess_user", "session_id")
        .agg(count(lit(1)).as("n_concurrent"))
        .orderBy("sess_user", "session_id")
    },
    Some("""WITH x AS (SELECT user_id, event_id, ts, value,
           |  CASE WHEN lag(ts) OVER w IS NULL
           |        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS brk
           | FROM events
           | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT user_id, ts,
           |  CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                      ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
           | FROM x),
           |sess AS (SELECT user_id AS sess_user, session_id,
           |         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
           |         FROM s WHERE user_id < 10 GROUP BY user_id, session_id)
           |SELECT sess.sess_user, sess.session_id, count(*) AS n_concurrent
           |FROM sess JOIN events e
           |  ON e.user_id >= 10 AND epoch_us(e.ts) BETWEEN sess.start_us AND sess.end_us
           |GROUP BY sess.sess_user, sess.session_id
           |ORDER BY sess.sess_user, sess.session_id""".stripMargin))

  // =====================================================================
  // Corpus curation (documents table): quality gates, sampling, domains
  // =====================================================================

  /** Gopher-style repetition/quality stats + keep flag (Rae et al. 2021
    * §A1.1, bounds tuned to this corpus). Two-level hash agg; the
    * shuffle carries (doc, word, count) — distinct words, not tokens. */
  private val qGopherQuality = Q(
    "q_gopher_quality",
    (s, d) => operators.Corpus.gopherStats(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH tok AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
           |wf AS (SELECT doc_id, w, count(*) AS f, sum(length(w)) AS lsum
           |       FROM tok GROUP BY doc_id, w),
           |per AS (SELECT doc_id, sum(f) AS n_words, count(*) AS n_distinct,
           |               max(f) AS top_f, sum(lsum) AS charsum
           |        FROM wf GROUP BY doc_id),
           |m AS (SELECT doc_id, CAST(n_words AS INT) AS n_words,
           | round(charsum / CAST(n_words AS DOUBLE), 6) AS mean_word_len,
           | round(n_distinct / CAST(n_words AS DOUBLE), 6) AS distinct_ratio,
           | round(top_f / CAST(n_words AS DOUBLE), 6) AS top_word_frac
           |FROM per)
           |SELECT *, CAST(CASE WHEN n_words >= 30
           |  AND mean_word_len BETWEEN 3.0 AND 10.0
           |  AND distinct_ratio >= 0.4
           |  AND top_word_frac <= 0.15 THEN 1 ELSE 0 END AS INT) AS keep
           |FROM m ORDER BY doc_id""".stripMargin))

  /** Deterministic stratified sample: first 30 docs per lang in
    * md5(doc_id) order — reproducible across engines/runs/partitionings.
    * The stateless threshold variant (`Corpus.hashFractionSample`, no
    * sort) is the 100 TB path; this exact-n form is the oracle-checked
    * one. */
  private val qSampleStratified = Q(
    "q_sample_stratified",
    (s, d) => operators.Corpus.stratifiedSample(
        Tables.documents(s, d), "doc_id", "lang", perStratum = 30)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, sample_rank FROM (
           | SELECT doc_id, lang,
           |  CAST(row_number() OVER (PARTITION BY lang
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sample_rank
           | FROM documents)
           |WHERE sample_rank <= 30 ORDER BY doc_id""".stripMargin))

  /** Per-source (domain) curation rollup + keep flag (C4-style domain
    * filtering). The exact-dup rate shuffles md5 digests, never text. */
  private val qDomainFilter = Q(
    "q_domain_filter",
    (s, d) => operators.Corpus.domainStats(
      Tables.documents(s, d), "doc_id", "text", "source"),
    Some("""WITH d AS (SELECT source, md5(text) AS digest, length(text) AS len
           |           FROM documents),
           |per AS (SELECT source, count(*) AS n_docs,
           |               round(avg(len), 6) AS avg_chars,
           |               count(DISTINCT digest) AS n_unique
           |        FROM d GROUP BY source),
           |m AS (SELECT source, n_docs, avg_chars,
           |             round(n_unique / CAST(n_docs AS DOUBLE), 6) AS uniq_ratio
           |      FROM per)
           |SELECT source, n_docs, avg_chars, uniq_ratio,
           | CAST(CASE WHEN n_docs >= 10 AND uniq_ratio >= 0.8
           |      THEN 1 ELSE 0 END AS INT) AS keep
           |FROM m ORDER BY source""".stripMargin))

  /** Benchmark decontamination: docs with doc_id % 10 == 0 stand in
    * for the held-out eval set; every other doc is reported with its
    * 8-gram overlap against that set (any hit ⇒ contaminated — at
    * k = 8 a random collision is ~impossible, so hits are real quotes
    * /near-dups). The oracle re-derives shingling, the distinct bench
    * set, the overlap join and the per-doc rollup independently. */
  private val qDecontaminate = {
    val k = 8
    val terms = (0 until k).map(j => s"w[i+$j]").mkString(", ")
    Q(
      "q_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Corpus.decontaminate(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", k = k)
      },
      Some(s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |   generate_series(1, len(w)-${k - 1}),
           |   i -> concat_ws(' ', $terms)))) AS s
           | FROM w WHERE len(w) >= $k),
           |bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 = 0),
           |csh AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0),
           |stats AS (SELECT doc_id, count(*) AS n_shingles,
           |       sum(CASE WHEN bsh.s IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
           |  FROM csh LEFT JOIN bsh ON csh.s = bsh.s GROUP BY doc_id)
           |SELECT d.doc_id,
           | CAST(coalesce(n_shingles, 0) AS INT) AS n_shingles,
           | CAST(coalesce(n_hits, 0) AS INT) AS n_hits,
           | CAST(CASE WHEN coalesce(n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
           |FROM documents d LEFT JOIN stats ON d.doc_id = stats.doc_id
           |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin))
  }

  /** md5-portable BLOOM twin of `q_decontaminate_bloom` (FULL oracle):
    * the sketch's bit positions are the four 20-bit chunks of
    * md5(shingle), so DuckDB re-derives the bench position set, all
    * four per-shingle membership probes AND any false positive
    * bit-for-bit — pinning the Bloom gate's algebra the way the md5
    * twins pinned minhash (Spark's `BloomFilter` stays the production
    * sketch; its engine-private hashing is why `q_decontaminate_bloom`
    * is rows-only). Same corpus/bench split and output contract as
    * the exact `q_decontaminate`. */
  private val qDecontaminateBloomMd5 = {
    val k = 8
    val terms = (0 until k).map(j => s"w[i+$j]").mkString(", ")
    val chunks = (0 until 4)
      .map(i => s"('0x' || substr(md5(s), ${1 + 5 * i}, 5))::BIGINT AS p$i")
      .mkString(",\n           |  ")
    val hitCond = (0 until 4)
      .map(i => s"p$i IN (SELECT pos FROM bpos)").mkString(" AND ")
    Q(
      "q_decontaminate_bloom_md5",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Corpus.decontaminateBloomMd5(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", k = k)
      },
      Some(s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |   generate_series(1, len(w)-${k - 1}),
           |   i -> concat_ws(' ', $terms)))) AS s
           | FROM w WHERE len(w) >= $k),
           |bpos AS (SELECT DISTINCT unnest([
           |   ('0x' || substr(h, 1, 5))::BIGINT, ('0x' || substr(h, 6, 5))::BIGINT,
           |   ('0x' || substr(h, 11, 5))::BIGINT, ('0x' || substr(h, 16, 5))::BIGINT]) AS pos
           | FROM (SELECT DISTINCT md5(s) AS h FROM sh WHERE doc_id % 10 = 0)),
           |cp AS (SELECT doc_id,
           |  $chunks
           | FROM (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 0)),
           |stats AS (SELECT doc_id, count(*) AS n_shingles,
           |   sum(CASE WHEN $hitCond THEN 1 ELSE 0 END) AS n_hits
           |  FROM cp GROUP BY doc_id)
           |SELECT d.doc_id,
           | CAST(coalesce(n_shingles, 0) AS INT) AS n_shingles,
           | CAST(coalesce(n_hits, 0) AS INT) AS n_hits,
           | CAST(CASE WHEN coalesce(n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
           |FROM documents d LEFT JOIN stats ON d.doc_id = stats.doc_id
           |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin))
  }

  /** MassiveText/Gopher duplicate-n-gram repetition stats for n=2,3,
    * oracle-recomputed from the raw token stream. */
  private val qDupNgrams = {
    val ns = Seq(2, 3)
    val perN = ns.map { n =>
      val terms = (0 until n).map(j => s"w[i+$j]").mkString(", ")
      s"""g$n AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-${n - 1}),
         |    i -> concat_ws(' ', $terms))) AS g FROM w WHERE len(w) >= $n),
         |c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g),
         |s$n AS (SELECT doc_id, $n AS n, CAST(sum(c) AS INT) AS total_ngrams,
         |   round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6) AS dup_frac,
         |   round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_frac
         |  FROM c$n GROUP BY doc_id)""".stripMargin
    }.mkString(",\n")
    val unioned = ns.map(n => s"SELECT * FROM s$n").mkString(" UNION ALL ")
    Q(
      "q_dup_ngrams",
      (s, d) => operators.Corpus.dupNgramStats(
        Tables.documents(s, d), "doc_id", "text", ns),
      Some(s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |$perN
           |SELECT * FROM ($unioned) ORDER BY doc_id, n""".stripMargin))
  }

  /** CCNet-style unigram-LM quality score + head/middle/tail buckets;
    * LM fit, scoring join, and tertile cutoffs all re-derived by the
    * oracle. */
  private val qUnigramLogprob = Q(
    "q_unigram_logprob",
    (s, d) => operators.Corpus.unigramLogprob(
      Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
           |freq AS (SELECT w, count(*) AS wn FROM tok GROUP BY w),
           |tot AS (SELECT sum(wn) AS wtotal FROM freq),
           |scored AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           |   round(avg(ln(CAST(wn AS DOUBLE) / wtotal)), 6) AS avg_logprob
           |  FROM tok JOIN freq USING (w) CROSS JOIN tot GROUP BY doc_id),
           |cut AS (SELECT round(quantile_cont(avg_logprob, 0.3333333333333333), 6) AS p33,
           |               round(quantile_cont(avg_logprob, 0.6666666666666666), 6) AS p66
           |        FROM scored)
           |SELECT doc_id, n_tokens, avg_logprob,
           | CAST(CASE WHEN avg_logprob >= p66 THEN 1
           |           WHEN avg_logprob >= p33 THEN 2
           |           ELSE 3 END AS INT) AS ppl_bucket
           |FROM scored CROSS JOIN cut ORDER BY doc_id""".stripMargin))

  /** The end-product of the near-dup pipeline: the corpus minus
    * non-survivor cluster members (LEFT ANTI join on the drop list —
    * statically sort-merge because the list is stats-blind behind the
    * CC checkpoint; AQE converts to broadcast at runtime, asserted in
    * PlanShapeSpec). The oracle recomputes pairs, the recursive
    * closure, AND the anti join.
    *
    * r6: runs the PRODUCTION minhash defenses — `bandBucketCap = 512`
    * (hot buckets star-expand; CC connectivity, the only thing this
    * query consumes from pairs, is preserved exactly) and
    * `stopShingleDfFrac = 0.5` (universal boilerplate carries no dedup
    * signal) — and the oracle re-derives BOTH, so the production
    * configuration itself is hash-checked end to end. */
  private val qCorpusDedup = {
    val (nh, bands, thr, cap, frac) = (16, 8, 0.1, 512, 0.5)
    Q(
      "q_corpus_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Dedup.dedupCorpus(
            docs,
            operators.Dedup.minhashPairs(docs, "doc_id", "text",
              numHashes = nh, bands = bands, threshold = thr, portableMd5 = true,
              bandBucketCap = cap, stopShingleDfFrac = Some(frac)),
            "doc_id")
          .select(col("doc_id"), col("source"), col("lang"),
                  length(col("text")).cast("int").as("n_chars"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${minhashMd5PairCtes(nh, bands, thr,
                bandCap = Some(cap), stopDfFrac = Some(frac))},
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION SELECT doc_b, doc_a FROM pairs),
           |reach(node, label) AS (
           | SELECT src, src FROM edges
           | UNION
           | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
           |drop_ids AS (SELECT node FROM reach GROUP BY node
           |             HAVING node <> min(label))
           |SELECT doc_id, source, lang, CAST(length(text) AS INT) AS n_chars
           |FROM documents WHERE doc_id NOT IN (SELECT node FROM drop_ids)
           |ORDER BY doc_id""".stripMargin))
  }

  /** Sequence packing (concat-and-chunk layout, 512-token sequences,
    * sharded by source): the windowed-cumsum assignment re-derived by
    * the oracle. */
  private val qPackSequences = Q(
    "q_pack_sequences",
    (s, d) => operators.Corpus.packSequences(
        Tables.documents(s, d), "doc_id", "text", "source", seqLen = 512)
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, source AS shard,
           |  CASE WHEN coalesce(trim(text), '') = '' THEN CAST(0 AS BIGINT)
           |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           |  END AS n_tokens
           | FROM documents),
           |c AS (SELECT doc_id, shard, n_tokens,
           |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |                      ROWS UNBOUNDED PRECEDING) AS end_tok
           | FROM t)
           |SELECT doc_id, shard, CAST(n_tokens AS INT) AS n_tokens,
           | CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
           | CAST((end_tok - n_tokens) // 512 AS INT) AS seq_first,
           | CAST(CASE WHEN n_tokens = 0 THEN (end_tok - n_tokens) // 512
           |      ELSE (end_tok - 1) // 512 END AS INT) AS seq_last,
           | CAST((end_tok - n_tokens) % 512 AS INT) AS seq_offset
           |FROM c ORDER BY doc_id""".stripMargin))

  /** DuckDB cosine between two list expressions — the shared oracle
    * formulation (left-to-right sums, zero-norm guard) that matches
    * `VectorOps.cosine` bit-for-bit. */
  private def duckCosine(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(list_zip($x, $y), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    s"CASE WHEN sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}) > 0 " +
      s"THEN ${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})) ELSE 0.0 END"
  }

  /** Semantic dedup, grid-cell ORACLE-PROOF twin of `dedup_semantic`:
    * deterministic grid cells over the first 2 unit-normalized
    * components replace the k-means coarse quantizer, so cell
    * assignment, the md5-order cellCap, within-cell exact cosine AND
    * the transitive closure are all independently re-derived by the
    * oracle (k-means cells stay the production path — they adapt to
    * density; the grid is the provable stand-in, as `portableMd5` is
    * for minhash). Same 0.3 threshold as `dedup_semantic` (this
    * corpus' natural cosine tail). */
  private val qDedupSemanticGrid = {
    val (gridDims, g, thr, cap) = (2, 0.25, 0.3, 64)
    val cellSql = (1 to gridDims).map(d =>
      s"CAST(CAST(floor(CAST(f[$d] AS DOUBLE) / n / $g) AS BIGINT) AS VARCHAR)")
      .mkString("concat_ws(',', ", ", ", ")")
    Q(
      "dedup_semantic_grid",
      (s, d) => operators.Dedup.semanticDedupGrid(
        Tables.embeddings(s, d), "vec_id", "embedding",
        gridDims = gridDims, gridSize = g, minCosine = thr, cellCap = cap),
      Some(s"""WITH RECURSIVE v AS (SELECT vec_id AS id, embedding AS f,
           |  sqrt(list_sum(list_transform(list_zip(embedding, embedding),
           |       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS n
           | FROM embeddings),
           |a AS (SELECT id, f, $cellSql AS cell FROM v WHERE n > 0),
           |c AS (SELECT id, f, cell,
           |  row_number() OVER (PARTITION BY cell ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn FROM a),
           |k AS (SELECT id, f, cell FROM c WHERE rn <= $cap),
           |pairs AS (SELECT x.id AS id_a, y.id AS id_b
           | FROM k x JOIN k y ON x.cell = y.cell AND x.id < y.id
           | WHERE round(${duckCosine("x.f", "y.f")}, 6) >= $thr),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach(node, label) AS (
           | SELECT src, src FROM edges
           | UNION
           | SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
           |cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
           |SELECT e.vec_id AS id, coalesce(cc.cluster_id, e.vec_id) AS cluster_id,
           | CAST(CASE WHEN cc.node IS NULL OR cc.node = cc.cluster_id
           |      THEN 1 ELSE 0 END AS INT) AS is_survivor
           |FROM embeddings e LEFT JOIN cc ON e.vec_id = cc.node
           |ORDER BY id""".stripMargin))
  }

  /** CROSS-MODAL dedup (FULL chained oracle) — the first query to
    * span the documents↔embeddings join: each document is removed as
    * "exact" (text digest not first-occurrence), else "semantic"
    * (its embedding loses the grid SemDeDup pass), else kept — the
    * combined text+vector curation verdict a real pipeline applies,
    * with the removal REASON reported (paraphrases share no digest
    * but collapse in embedding space). Both signals are the already-
    * proven operators; the oracle chains the digest keep-rule and the
    * whole grid/CC closure and re-derives the precedence. */
  private val qDedupCrossmodal = {
    val (gridDims, g, thr, cap) = (2, 0.25, 0.3, 64)
    val cellSql = (1 to gridDims).map(d =>
      s"CAST(CAST(floor(CAST(f[$d] AS DOUBLE) / n / $g) AS BIGINT) AS VARCHAR)")
      .mkString("concat_ws(',', ", ", ", ")")
    Q(
      "q_dedup_crossmodal",
      (s, d) => operators.Dedup.crossmodalDedup(
        Tables.documents(s, d), Tables.embeddings(s, d),
        "doc_id", "text", "vec_id", "embedding",
        gridDims = gridDims, gridSize = g, minCosine = thr, cellCap = cap),
      Some(s"""WITH RECURSIVE fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
           |kp AS (SELECT fp, min(doc_id) AS k FROM fp GROUP BY fp),
           |ex AS (SELECT f.doc_id, (f.doc_id <> kp.k) AS exdup
           |       FROM fp f JOIN kp USING (fp)),
           |v AS (SELECT vec_id AS id, embedding AS f,
           |  sqrt(list_sum(list_transform(list_zip(embedding, embedding),
           |       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS n
           | FROM embeddings),
           |a AS (SELECT id, f, $cellSql AS cell FROM v WHERE n > 0),
           |cp AS (SELECT id, f, cell,
           |  row_number() OVER (PARTITION BY cell ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn FROM a),
           |kc AS (SELECT id, f, cell FROM cp WHERE rn <= $cap),
           |dpairs AS (SELECT x.id AS id_a, y.id AS id_b
           | FROM kc x JOIN kc y ON x.cell = y.cell AND x.id < y.id
           | WHERE round(${duckCosine("x.f", "y.f")}, 6) >= $thr),
           |dedges AS (SELECT id_a AS src, id_b AS dst FROM dpairs
           |           UNION SELECT id_b, id_a FROM dpairs),
           |dreach(node, label) AS (
           | SELECT src, src FROM dedges
           | UNION
           | SELECT e.dst, r.label FROM dreach r JOIN dedges e ON e.src = r.node),
           |dcc AS (SELECT node, min(label) AS cluster_id FROM dreach GROUP BY node),
           |sem AS (SELECT e.vec_id AS doc_id,
           |  NOT (dcc.node IS NULL OR dcc.node = dcc.cluster_id) AS semdup
           | FROM embeddings e LEFT JOIN dcc ON e.vec_id = dcc.node)
           |SELECT ex.doc_id,
           | CAST(CASE WHEN NOT exdup AND NOT coalesce(semdup, FALSE)
           |      THEN 1 ELSE 0 END AS INT) AS keep,
           | CASE WHEN exdup THEN 'exact'
           |      WHEN coalesce(semdup, FALSE) THEN 'semantic'
           |      ELSE 'none' END AS reason
           |FROM ex LEFT JOIN sem USING (doc_id) ORDER BY ex.doc_id""".stripMargin))
  }

  /** STREAMING cross-modal dedup — the last dedup family member to
    * gain a streaming twin: the maintained text+vector verdict
    * (`CorpusStream.MaintainedCrossmodal`) over hash-sliced arrival
    * batches, verdicts RETRACTING as smaller-id digest twins and
    * late embeddings arrive. Maintenance is INCREMENTAL (r11): each
    * batch recomputes only the digest groups and grid cells it
    * touches, carrying every other verdict forward — yet the drained
    * end state equals the batch operator on the complete corpus
    * (keeper monotonicity + cell locality), so the batch
    * `q_dedup_crossmodal` oracle applies VERBATIM (full chained
    * DuckDB re-derivation, not rows-only). */
  private val qDedupCrossmodalStream = Q(
    "q_dedup_crossmodal_stream",
    (s, d) => streaming.CorpusStream.crossmodalOverFile(s, d),
    qDedupCrossmodal.oracle)

  /** Span-level (CCNet-paragraph / C4-span) dedup: 5-word spans,
    * global first-occurrence keep, documents reassembled from
    * surviving spans. Chop, first-pick (min-struct hash agg — no
    * hot-span window sort), keep-join and reassembly all re-derived
    * verbatim by the oracle. */
  private val qSpanDedup = {
    val k = 5
    Q(
      "q_span_dedup",
      (s, d) => operators.Dedup.dedupSpans(
        Tables.documents(s, d), "doc_id", "text", spanLen = k),
      Some(s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |sp AS (SELECT doc_id, unnest(generate_series(1, (len(w)+${k - 1})//$k)) AS span_idx, w FROM w),
           |spans AS (SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
           |  array_to_string(list_slice(w, (span_idx-1)*$k+1, span_idx*$k), ' ') AS span FROM sp),
           |k AS (SELECT doc_id, span_idx, span,
           |  row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn FROM spans)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
           | CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
           | coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '') AS dedup_text
           |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  }

  /** Exact repeated-substring removal (Lee et al. 2022) as duplicated
    * overlapping-window coverage — catches repeated spans ≥ L tokens
    * at ANY offset, unlike the alignment-sensitive `q_span_dedup`
    * chunks. The oracle re-derives the whole pipeline: window chop via
    * list_slice, global first-occurrence via a gram-partitioned
    * row_number, coverage via a running max of cut-window ends. */
  private val qDedupSubstrings = {
    val L = 20
    Q(
      "q_dedup_substrings",
      (s, d) => operators.Dedup.dedupExactSubstrings(
        Tables.documents(s, d), "doc_id", "text", gramLen = L),
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |tok AS (SELECT doc_id, CAST(p AS INT)-1 AS tpos, w[CAST(p AS INT)] AS tok
           |        FROM t, unnest(generate_series(1, len(w))) AS u(p)),
           |grams AS (SELECT doc_id, CAST(p AS INT)-1 AS pos,
           |          array_to_string(list_slice(w, CAST(p AS INT), CAST(p AS INT)+$L-1), ' ') AS gram
           |          FROM t, unnest(generate_series(1, len(w)-$L+1)) AS u(p)
           |          WHERE len(w) >= $L),
           |k AS (SELECT doc_id, pos,
           |        count(*) OVER (PARTITION BY gram) AS cnt,
           |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
           |      FROM grams),
           |masked AS (SELECT doc_id, pos, pos + $L AS cut_end FROM k WHERE cnt > 1 AND rn > 1),
           |m AS (SELECT tok.doc_id, tok.tpos, tok.tok,
           |        max(masked.cut_end)
           |          OVER (PARTITION BY tok.doc_id ORDER BY tok.tpos
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mask_end
           |      FROM tok LEFT JOIN masked
           |        ON tok.doc_id = masked.doc_id AND tok.tpos = masked.pos)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           |  CAST(sum(CASE WHEN mask_end IS NOT NULL AND mask_end > tpos THEN 1 ELSE 0 END) AS INT) AS n_cut,
           |  coalesce(string_agg(CASE WHEN mask_end IS NULL OR mask_end <= tpos THEN tok END, ' ' ORDER BY tpos), '') AS dedup_text
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  }

  /** Corpus duplication report — the dataset-card rollup of the
    * exact-substring machinery: per source, how many tokens sit inside
    * duplicated (≥L-token, any-offset) repeats, and the duplication
    * fraction. The "how much of my corpus is copied text" number a
    * curation run reports before and after dedup. Same plan as
    * `q_dedup_substrings` plus one broadcast join back to sources and
    * one rollup agg; the oracle re-derives the whole chain. */
  private val qDupReport = {
    val L = 20
    Q(
      "q_dup_report",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Dedup.dedupExactSubstrings(docs, "doc_id", "text", gramLen = L)
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).cast("int").as("n_docs"),
               sum("n_tokens").cast("bigint").as("total_tokens"),
               sum("n_cut").cast("bigint").as("tokens_dup"),
               round(sum("n_cut").cast("double") / sum("n_tokens").cast("double"), 6)
                 .as("dup_frac"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |tok AS (SELECT doc_id, CAST(p AS INT)-1 AS tpos, w[CAST(p AS INT)] AS tok
           |        FROM t, unnest(generate_series(1, len(w))) AS u(p)),
           |grams AS (SELECT doc_id, CAST(p AS INT)-1 AS pos,
           |          array_to_string(list_slice(w, CAST(p AS INT), CAST(p AS INT)+$L-1), ' ') AS gram
           |          FROM t, unnest(generate_series(1, len(w)-$L+1)) AS u(p)
           |          WHERE len(w) >= $L),
           |k AS (SELECT doc_id, pos,
           |        count(*) OVER (PARTITION BY gram) AS cnt,
           |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
           |      FROM grams),
           |masked AS (SELECT doc_id, pos, pos + $L AS cut_end FROM k WHERE cnt > 1 AND rn > 1),
           |m AS (SELECT tok.doc_id, tok.tpos,
           |        max(masked.cut_end)
           |          OVER (PARTITION BY tok.doc_id ORDER BY tok.tpos
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mask_end
           |      FROM tok LEFT JOIN masked
           |        ON tok.doc_id = masked.doc_id AND tok.tpos = masked.pos),
           |perdoc AS (SELECT doc_id, count(*) AS n_tokens,
           |  sum(CASE WHEN mask_end IS NOT NULL AND mask_end > tpos THEN 1 ELSE 0 END) AS n_cut
           | FROM m GROUP BY doc_id)
           |SELECT d.source, CAST(count(*) AS INT) AS n_docs,
           | CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
           | CAST(sum(p.n_cut) AS BIGINT) AS tokens_dup,
           | round(CAST(sum(p.n_cut) AS DOUBLE) / CAST(sum(p.n_tokens) AS DOUBLE), 6) AS dup_frac
           |FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
           |GROUP BY d.source ORDER BY d.source""".stripMargin))
  }

  /** Incremental exact-substring scrub: the incoming batch
    * (doc_id % 5 = 4, the q_dedup_incremental split) cleaned against
    * the published corpus — existing windows always win; batch-internal
    * repeats keep their batch-first occurrence. The oracle re-derives
    * both rules over the verbatim window text. */
  private val qDedupSubstringsInc = {
    val L = 20
    Q(
      "q_dedup_substrings_inc",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Dedup.dedupExactSubstringsIncremental(
          docs.filter(col("doc_id") % 5 =!= 4),
          docs.filter(col("doc_id") % 5 === 4),
          "doc_id", "text", gramLen = L)
      },
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |tok AS (SELECT doc_id, CAST(p AS INT)-1 AS tpos, w[CAST(p AS INT)] AS tok
           |        FROM t, unnest(generate_series(1, len(w))) AS u(p)
           |        WHERE doc_id % 5 = 4),
           |g AS (SELECT doc_id, CAST(p AS INT)-1 AS pos,
           |      array_to_string(list_slice(w, CAST(p AS INT), CAST(p AS INT)+$L-1), ' ') AS gram
           |      FROM t, unnest(generate_series(1, len(w)-$L+1)) AS u(p)
           |      WHERE len(w) >= $L),
           |ex AS (SELECT DISTINCT gram FROM g WHERE doc_id % 5 != 4),
           |ing AS (SELECT * FROM g WHERE doc_id % 5 = 4),
           |k AS (SELECT ing.doc_id, ing.pos,
           |        CASE WHEN ex.gram IS NOT NULL THEN 1 ELSE 0 END AS in_ex,
           |        count(*) OVER (PARTITION BY ing.gram) AS cnt,
           |        row_number() OVER (PARTITION BY ing.gram ORDER BY ing.doc_id, ing.pos) AS rn
           |      FROM ing LEFT JOIN ex ON ing.gram = ex.gram),
           |masked AS (SELECT doc_id, pos, pos + $L AS cut_end FROM k
           |           WHERE in_ex = 1 OR (cnt > 1 AND rn > 1)),
           |m AS (SELECT tok.doc_id, tok.tpos, tok.tok,
           |        max(masked.cut_end)
           |          OVER (PARTITION BY tok.doc_id ORDER BY tok.tpos
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mask_end
           |      FROM tok LEFT JOIN masked
           |        ON tok.doc_id = masked.doc_id AND tok.tpos = masked.pos)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           |  CAST(sum(CASE WHEN mask_end IS NOT NULL AND mask_end > tpos THEN 1 ELSE 0 END) AS INT) AS n_cut,
           |  coalesce(string_agg(CASE WHEN mask_end IS NULL OR mask_end <= tpos THEN tok END, ' ' ORDER BY tpos), '') AS dedup_text
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  }

  /** Exact all-pairs cosine near-dup pairs — the oracle-proof twin of
    * `dedup_embedding` (which stays the LSH scale path; its recall is
    * measured against exact pairs in DedupSpec/SimilaritySpec). O(n²)
    * by design, bounded-slice use only. Threshold 0.35 as in
    * `dedup_embedding` (this corpus' near-pair tail). */
  private val qDedupEmbeddingExact = Q(
    "dedup_embedding_exact",
    (s, d) => operators.Dedup.embeddingPairsExact(
      Tables.embeddings(s, d), "vec_id", "embedding", minCosine = 0.35),
    Some("""WITH c AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |  round(CASE WHEN sqrt(list_sum(list_transform(list_zip(a.embedding, a.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |           * sqrt(list_sum(list_transform(list_zip(b.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0
           |        THEN list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           |           / (sqrt(list_sum(list_transform(list_zip(a.embedding, a.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
           |            * sqrt(list_sum(list_transform(list_zip(b.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
           |        ELSE 0.0 END, 6) AS cosine
           | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
           |SELECT id_a, id_b, cosine FROM c WHERE cosine >= 0.35
           |ORDER BY id_a, id_b""".stripMargin))

  /** Deterministic data-mixture construction (Pile/LLaMA-style domain
    * weighting): src0 ×2.5, src1 ×2.0, src2 ×0.5 (subsampled), src3
    * dropped, everything else ×1.0. The weight lookup, the
    * lexicographic-hex fractional coin and the epoch explode are all
    * re-derived by the oracle. */
  private val qMixDomains = {
    val weights = Seq("src0" -> 2.5, "src1" -> 2.0, "src2" -> 0.5, "src3" -> 0.0)
    def fracHex(w: Double): String =
      f"${((w - math.floor(w)) * 4294967296.0).toLong}%08x"
    val valuesSql = weights
      .map { case (s, w) => s"('$s', ${math.floor(w).toLong}, '${fracHex(w)}')" }
      .mkString(", ")
    Q(
      "q_mix_domains",
      (s, d) => operators.Corpus.mixDomains(
        Tables.documents(s, d), "doc_id", "source",
        weights.toMap, defaultWeight = 1.0),
      Some(s"""WITH wt(source, fl, fx) AS (VALUES $valuesSql),
           |d AS (SELECT doc_id, d.source,
           |   coalesce(fl, 1) + CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
           |                               < coalesce(fx, '00000000')
           |                     THEN 1 ELSE 0 END AS copies
           |  FROM documents d LEFT JOIN wt ON d.source = wt.source)
           |SELECT doc_id, source, CAST(e AS INT) AS epoch FROM
           | (SELECT doc_id, source, unnest(generate_series(1, copies)) AS e
           |  FROM d WHERE copies >= 1)
           |ORDER BY doc_id, epoch""".stripMargin))
  }

  /** Per-language heavy hitters (top-10 terms): vocabulary-bounded
    * two-level agg, rank window only on the aggregated frame. */
  private val qTopTerms = Q(
    "q_top_terms",
    (s, d) => operators.Corpus.topTermsPerGroup(
      Tables.documents(s, d), "lang", "text", k = 10),
    Some("""WITH tok AS (SELECT lang AS grp, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
           |c AS (SELECT grp, term, count(*) AS n FROM tok GROUP BY grp, term),
           |r AS (SELECT grp, term, n,
           |  row_number() OVER (PARTITION BY grp ORDER BY n DESC, term ASC) AS term_rank FROM c)
           |SELECT grp, term, n, CAST(term_rank AS INT) AS term_rank
           |FROM r WHERE term_rank <= 10 ORDER BY grp, term_rank""".stripMargin))

  /** Incremental (continuous-refresh) dedup: the incoming batch
    * (doc_id % 5 = 4) against the existing corpus (the rest) — exact
    * digest hits plus verified near-dup hits drop an incoming doc;
    * existing×existing pairs are never generated. The oracle recomputes
    * the full portable-md5 pair pipeline and restricts it to cross-set
    * pairs, plus the digest anti-join. */
  private val qDedupIncremental = {
    val (nh, bands, thr, exCap) = (16, 8, 0.1, 64)
    Q(
      "q_dedup_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        operators.Dedup.dedupIncremental(
            docs.filter(col("doc_id") % 5 =!= 4),
            docs.filter(col("doc_id") % 5 === 4),
            "doc_id", "text",
            numHashes = nh, bands = bands, threshold = thr, portableMd5 = true,
            // r5 soak lesson: a K-member boilerplate cluster in the
            // stored index makes the uncapped incoming×existing band
            // join quadratic across the split; EXISTS semantics needs
            // only the bucket's min-id representative (oracle below
            // re-derives the cap)
            exBucketCap = exCap)
          .select(col("doc_id"), col("source"), col("lang"),
                  length(col("text")).cast("int").as("n_chars"))
          .orderBy("doc_id")
      },
      // reuses the shared CTE chain's `bands` (doc_id, band, bh) and
      // `sets` (doc_id, ss) — its `cands`/`pairs` CTEs go unreferenced
      // here because the incremental candidate rule differs: existing-
      // side band buckets over the cap collapse to min(ex_id)
      Some(s"""WITH ${minhashMd5PairCtes(nh, bands, thr)},
           |exb AS (SELECT band, bh, doc_id AS ex_id FROM bands WHERE doc_id % 5 <> 4),
           |exf AS (SELECT band, bh, count(*) AS f, min(ex_id) AS mn
           |  FROM exb GROUP BY band, bh),
           |excap AS (SELECT e.band, e.bh, e.ex_id
           |   FROM exb e JOIN exf f ON f.band = e.band AND f.bh = e.bh
           |   WHERE f.f <= $exCap
           |  UNION ALL
           |  SELECT band, bh, mn AS ex_id FROM exf WHERE f > $exCap),
           |icand AS (SELECT DISTINCT b.doc_id AS in_id, e.ex_id
           |  FROM bands b JOIN excap e ON e.band = b.band AND e.bh = b.bh
           |  WHERE b.doc_id % 5 = 4),
           |near AS (SELECT DISTINCT in_id AS id FROM icand
           |  JOIN sets sa ON sa.doc_id = icand.in_id
           |  JOIN sets sb ON sb.doc_id = icand.ex_id
           |  WHERE round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
           |      / (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE)
           |         - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)), 6) >= $thr),
           |exdig AS (SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 5 <> 4)
           |SELECT doc_id, source, lang, CAST(length(text) AS INT) AS n_chars
           |FROM documents
           |WHERE doc_id % 5 = 4
           | AND md5(text) NOT IN (SELECT dg FROM exdig)
           | AND doc_id NOT IN (SELECT id FROM near)
           |ORDER BY doc_id""".stripMargin))
  }

  /** Writer-side packing manifest: per (shard, sequence) doc counts,
    * id range and token fill — the cumsum, range explode and interval
    * intersection all re-derived by the oracle. */
  private val qPackManifest = Q(
    "q_pack_manifest",
    (s, d) => operators.Corpus.packManifest(
      Tables.documents(s, d), "doc_id", "text", "source", seqLen = 512),
    Some("""WITH t AS (SELECT doc_id, source AS shard,
           |  CASE WHEN coalesce(trim(text), '') = '' THEN CAST(0 AS BIGINT)
           |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           |  END AS n_tokens
           | FROM documents),
           |c AS (SELECT doc_id, shard, n_tokens,
           |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |                      ROWS UNBOUNDED PRECEDING) AS end_tok
           | FROM t),
           |p AS (SELECT doc_id, shard, n_tokens,
           |  CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
           |  CAST((end_tok - n_tokens) // 512 AS BIGINT) AS seq_first,
           |  CAST((end_tok - 1) // 512 AS BIGINT) AS seq_last
           | FROM c WHERE n_tokens > 0),
           |m AS (SELECT shard, doc_id, n_tokens, start_tok,
           |  unnest(generate_series(seq_first, seq_last)) AS seq_id FROM p)
           |SELECT shard, CAST(seq_id AS INT) AS seq_id,
           | CAST(count(*) AS INT) AS n_docs,
           | min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           | CAST(sum(least(start_tok + n_tokens, (seq_id + 1) * 512)
           |        - greatest(start_tok, seq_id * 512)) AS BIGINT) AS n_fill
           |FROM m GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin))

  /** CCNet-proper held-out LM scoring: unigram LM fit on the held-out
    * tenth (doc_id % 10 = 0, the decontamination eval-set convention),
    * add-one smoothing, every other doc scored by cross-entropy
    * against it. LM fit, smoothing floor, OOV handling and the per-doc
    * rollup all re-derived by the oracle. */
  private val qLmCrossEntropy = Q(
    "q_lm_crossentropy",
    (s, d) => {
      val docs = Tables.documents(s, d)
      operators.Corpus.lmCrossEntropy(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
    },
    Some("""WITH rtok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |  FROM documents WHERE doc_id % 10 = 0),
           |freq AS (SELECT w, count(*) AS wn FROM rtok GROUP BY w),
           |st AS (SELECT sum(wn) AS n_ref, count(*) AS v_ref FROM freq),
           |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |  FROM documents WHERE doc_id % 10 <> 0),
           |lp AS (SELECT doc_id,
           |   ln(CAST(coalesce(wn, 0) + 1 AS DOUBLE)
           |      / CAST(n_ref + v_ref + 1 AS DOUBLE)) AS lp
           |  FROM tok LEFT JOIN freq USING (w) CROSS JOIN st)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           | round(-avg(lp), 6) AS cross_entropy
           |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Per-domain held-out-LM perplexity rollup — the dataset-card
    * number CCNet-style curation reports per source (and the quantity
    * domain-mixture tuning reads): token-weighted cross-entropy and
    * perplexity of each source against the held-out reference LM
    * (same split and smoothing as `q_lm_crossentropy`, aggregated at
    * token level so long docs weigh by their tokens, not once). */
  private val qDomainPpl = Q(
    "q_domain_ppl",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("w"))
      val freq = docs.filter(col("doc_id") % 10 === 0)
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wn"))
      val stats = freq.agg(sum("wn").as("n_ref"), count(lit(1)).as("v_ref"))
      tok.join(freq, Seq("w"), "left")
        .crossJoin(broadcast(stats))
        .select(col("source"),
          log((coalesce(col("wn"), lit(0L)) + lit(1L)).cast("double")
            / (col("n_ref") + col("v_ref") + lit(1L)).cast("double")).as("__lp"))
        .groupBy("source")
        .agg(count(lit(1)).cast("bigint").as("n_tokens"),
             round(-avg(col("__lp")), 6).as("cross_entropy"),
             round(exp(-avg(col("__lp"))), 6).as("perplexity"))
        .orderBy("source")
    },
    Some("""WITH rtok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |  FROM documents WHERE doc_id % 10 = 0),
           |freq AS (SELECT w, count(*) AS wn FROM rtok GROUP BY w),
           |st AS (SELECT sum(wn) AS n_ref, count(*) AS v_ref FROM freq),
           |tok AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |  FROM documents WHERE doc_id % 10 <> 0),
           |lp AS (SELECT source,
           |   ln(CAST(coalesce(wn, 0) + 1 AS DOUBLE)
           |      / CAST(n_ref + v_ref + 1 AS DOUBLE)) AS lp
           |  FROM tok LEFT JOIN freq USING (w) CROSS JOIN st)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
           | round(-avg(lp), 6) AS cross_entropy,
           | round(exp(-avg(lp)), 6) AS perplexity
           |FROM lp GROUP BY source ORDER BY source""".stripMargin))

  /** Token-budget selection: the best-quality documents (ascending
    * held-out cross-entropy) until a 12k-token budget is spent (roughly the better half of the corpus at the verify scale) — the
    * "give me the best N tokens" dataset-assembly op. The Spark side
    * computes the global running total via a two-level distributed
    * prefix sum (quantile buckets + bucket-partitioned windows — no
    * single-reducer global sort; PlanShapeSpec gates it); the oracle
    * states the same selection as one global cumsum window. */
  private val qTokenBudget = Q(
    "q_token_budget",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val scored = operators.Corpus.lmCrossEntropy(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text")
      operators.Corpus.selectTokenBudget(
        scored, "doc_id", "n_tokens", "cross_entropy", budget = 12000L)
    },
    Some("""WITH rtok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |  FROM documents WHERE doc_id % 10 = 0),
           |freq AS (SELECT w, count(*) AS wn FROM rtok GROUP BY w),
           |st AS (SELECT sum(wn) AS n_ref, count(*) AS v_ref FROM freq),
           |tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |  FROM documents WHERE doc_id % 10 <> 0),
           |lp AS (SELECT doc_id,
           |   ln(CAST(coalesce(wn, 0) + 1 AS DOUBLE)
           |      / CAST(n_ref + v_ref + 1 AS DOUBLE)) AS lp
           |  FROM tok LEFT JOIN freq USING (w) CROSS JOIN st),
           |ce AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  round(-avg(lp), 6) AS key FROM lp GROUP BY doc_id),
           |c AS (SELECT doc_id, n_tokens, key,
           |  sum(n_tokens) OVER (ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
           | FROM ce)
           |SELECT doc_id, n_tokens, key, CAST(cum_tokens AS BIGINT) AS cum_tokens
           |FROM c WHERE cum_tokens <= 12000 ORDER BY doc_id""".stripMargin))

  /** Overlapping sliding-window chunking (RAG / embedding-input
    * layout): window 8, stride 4, last window clamped. Chunk count,
    * boundaries and text re-derived by the oracle. */
  private val qChunkOverlap = {
    val (w, s) = (8, 4)
    Q(
      "q_chunk_overlap",
      (sp, d) => operators.Corpus.chunkDocs(
        Tables.documents(sp, d), "doc_id", "text", window = w, stride = s),
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |n AS (SELECT doc_id, w,
           |  CASE WHEN len(w) <= $w THEN 1
           |       ELSE (len(w) - $w + ${s - 1}) // $s + 1 END AS nc FROM t),
           |e AS (SELECT doc_id, w, unnest(generate_series(1, nc)) AS chunk_idx FROM n),
           |c AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           |  array_to_string(list_slice(w, (chunk_idx - 1) * $s + 1,
           |                             (chunk_idx - 1) * $s + $w), ' ') AS chunk
           | FROM e)
           |SELECT doc_id, chunk_idx, chunk,
           | CAST(CASE WHEN chunk = '' THEN 0
           |      ELSE len(string_split(chunk, ' ')) END AS INT) AS n_chunk_tokens
           |FROM c ORDER BY doc_id, chunk_idx""".stripMargin))
  }

  /** Equal-frequency length buckets via exact quartile cutoffs —
    * cutoffs and assignment re-derived by the oracle. */
  private val qLengthBuckets = Q(
    "q_length_buckets",
    (s, d) => operators.Corpus.lengthBuckets(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH n AS (SELECT doc_id,
           |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
           | FROM documents),
           |cuts AS (SELECT round(quantile_cont(n_tokens, 0.25), 6) AS p25,
           |                round(quantile_cont(n_tokens, 0.5), 6) AS p50,
           |                round(quantile_cont(n_tokens, 0.75), 6) AS p75 FROM n)
           |SELECT doc_id, n_tokens,
           | CAST(CASE WHEN n_tokens < p25 THEN 1
           |           WHEN n_tokens < p50 THEN 2
           |           WHEN n_tokens < p75 THEN 3
           |           ELSE 4 END AS INT) AS length_bucket
           |FROM n CROSS JOIN cuts ORDER BY doc_id""".stripMargin))

  /** Cross-source overlap (contamination) matrix: shared 3-shingle
    * types per source pair; the DISTINCT (source, shingle) frame
    * bounds the join key's frequency by #domains. Shingling, distinct,
    * pair join and rollup all re-derived by the oracle. */
  private val qSourceOverlap = Q(
    "q_source_overlap",
    (s, d) => operators.Corpus.sourceOverlap(
      Tables.documents(s, d), "doc_id", "text", "source", k = 3),
    Some("""WITH w AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
           |sh AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(
           |   generate_series(1, len(w)-2),
           |   i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS s
           | FROM w WHERE len(w) >= 3)
           |SELECT a.source AS source_a, b.source AS source_b,
           | CAST(count(*) AS INT) AS n_shared
           |FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
           |GROUP BY a.source, b.source ORDER BY source_a, source_b""".stripMargin))

  /** Z-order (Morton) layout key over lineitem's (orderkey, partkey)
    * low 10 bits — the clustering key that makes min/max file pruning
    * work on BOTH join dimensions at 100 TB. The bit interleave is
    * re-derived verbatim by the oracle. */
  private val qZorderKey = {
    val bits = 10
    val zSql = (0 until bits).flatMap(b => Seq(
      s"((((l_orderkey & 1023) >> $b) & 1) << ${2 * b})",
      s"((((l_partkey & 1023) >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
    Q(
      "q_zorder_key",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
            operators.Layout.zValue(
              Seq(col("l_orderkey"), col("l_partkey")), bits).as("zval"))
          .orderBy("l_orderkey", "l_partkey", "l_linenumber"),
      Some(s"""SELECT l_orderkey, l_partkey, l_linenumber, CAST($zSql AS BIGINT) AS zval
           |FROM lineitem ORDER BY l_orderkey, l_partkey, l_linenumber""".stripMargin))
  }

  /** Quality-weighted mixture — CCNet's end move: score docs with the
    * unigram LM, bucket head/middle/tail, then up/down-sample per
    * bucket (head ×2, middle ×1, tail ×0.25) with the deterministic
    * mixture coin. Composes `unigramLogprob` + `mixDomains`; the
    * oracle re-derives the LM, the tertiles AND the epoch mixture. */
  private val qMixQuality = Q(
    "q_mix_quality",
    (s, d) => {
      val scored = operators.Corpus.unigramLogprob(
        Tables.documents(s, d), "doc_id", "text")
        .withColumn("qb", concat(lit("b"), col("ppl_bucket")))
      operators.Corpus.mixDomains(scored, "doc_id", "qb",
        Map("b1" -> 2.0, "b2" -> 1.0, "b3" -> 0.25), defaultWeight = 1.0)
    },
    Some("""WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
           |freq AS (SELECT w, count(*) AS wn FROM tok GROUP BY w),
           |tot AS (SELECT sum(wn) AS wtotal FROM freq),
           |scored AS (SELECT doc_id,
           |   round(avg(ln(CAST(wn AS DOUBLE) / wtotal)), 6) AS avg_logprob
           |  FROM tok JOIN freq USING (w) CROSS JOIN tot GROUP BY doc_id),
           |cut AS (SELECT round(quantile_cont(avg_logprob, 0.3333333333333333), 6) AS p33,
           |               round(quantile_cont(avg_logprob, 0.6666666666666666), 6) AS p66
           |        FROM scored),
           |b AS (SELECT doc_id,
           |   CASE WHEN avg_logprob >= p66 THEN 'b1'
           |        WHEN avg_logprob >= p33 THEN 'b2'
           |        ELSE 'b3' END AS source
           |  FROM scored CROSS JOIN cut),
           |wt(source, fl, fx) AS (VALUES ('b1', 2, '00000000'), ('b2', 1, '00000000'), ('b3', 0, '40000000')),
           |d AS (SELECT doc_id, b.source,
           |   coalesce(fl, 1) + CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
           |                               < coalesce(fx, '00000000')
           |                     THEN 1 ELSE 0 END AS copies
           |  FROM b LEFT JOIN wt ON b.source = wt.source)
           |SELECT doc_id, source, CAST(e AS INT) AS epoch FROM
           | (SELECT doc_id, source, unnest(generate_series(1, copies)) AS e
           |  FROM d WHERE copies >= 1)
           |ORDER BY doc_id, epoch""".stripMargin))

  /** The composed corpus FLAGSHIP — what a real training-data run
    * executes as one job: language/quality gates (scan-side) →
    * exact-dedup keepers (one digest-keyed shuffle) → fixed-length
    * sequence packing of the survivors (one per-shard windowed
    * cumsum). One declarative plan end to end; every stage is the
    * already-oracle-proven operator, and the chained oracle re-derives
    * the whole pipeline. At 100 TB: gates prune at the scan, the only
    * data movement is the digest agg + the per-shard pack window. */
  private val qCorpusPipeline = Q(
    "q_corpus_pipeline",
    (s, d) => {
      val gated = Tables.documents(s, d)
        .filter(operators.Corpus.langQualityGate(col("text")))
      val keepers = gated
        .groupBy(md5(col("text").cast("binary")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val kept = gated.join(keepers, Seq("doc_id"), "left_semi")
      operators.Corpus.packSequences(kept, "doc_id", "text", "source", seqLen = 512)
        .orderBy("doc_id")
    },
    Some("""WITH gated AS (SELECT doc_id, text, source FROM documents
           | WHERE len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(der|die|und|ist|das)\b'))
           |  AND len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(le|la|et|est|les)\b'))
           |  AND len(regexp_extract_all(text, '\b(the|and|of|is|to)\b')) >= len(regexp_extract_all(text, '\b(el|los|y|es|las)\b'))
           |  AND len(regexp_split_to_array(trim(text), '\s+')) >= 20
           |  AND round(CAST(len(regexp_extract_all(text, '\b(the|a|an|of|to|and|in|is|for|on|with)\b')) AS DOUBLE)
           |        / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) >= 0.05),
           |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
           |kept AS (SELECT g.doc_id, g.text, g.source FROM gated g
           |         JOIN keep k ON g.doc_id = k.doc_id),
           |t AS (SELECT doc_id, source AS shard,
           |  CASE WHEN coalesce(trim(text), '') = '' THEN CAST(0 AS BIGINT)
           |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           |  END AS n_tokens
           | FROM kept),
           |c AS (SELECT doc_id, shard, n_tokens,
           |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |                      ROWS UNBOUNDED PRECEDING) AS end_tok
           | FROM t)
           |SELECT doc_id, shard, CAST(n_tokens AS INT) AS n_tokens,
           | CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
           | CAST((end_tok - n_tokens) // 512 AS INT) AS seq_first,
           | CAST(CASE WHEN n_tokens = 0 THEN (end_tok - n_tokens) // 512
           |      ELSE (end_tok - 1) // 512 END AS INT) AS seq_last,
           | CAST((end_tok - n_tokens) % 512 AS INT) AS seq_offset
           |FROM c ORDER BY doc_id""".stripMargin))

  /** The full PRETRAINING-RUN flagship — `q_corpus_pipeline` extended
    * with the two remaining production stages in the SAME declarative
    * plan: language/quality gates (scan-side) → exact-dedup keepers
    * (one digest-keyed shuffle) → benchmark DECONTAMINATION (the
    * doc_id%10=0 slice stands in for the held-out eval set; its
    * 8-gram shingle set is a constant-size Bloom sketch probed by a
    * scan-side gate — zero shuffle) → DOMAIN MIXTURE (per-source
    * epoch weights, scan-side explode with `text` carried through —
    * no join-back) → fixed-length sequence packing of the mixed
    * stream keyed by (doc, epoch). The closest thing to "the product"
    * as one query; every stage is the already-oracle-proven operator
    * and the chained oracle re-derives the whole pipeline including
    * the mixture copies and the packed token intervals.
    * PlanShapeSpec pins that the two new stages add ZERO hash
    * exchanges over `q_corpus_pipeline`. */
  /** The WEB-CRAWL flagship — raw HTML to packed training manifest in
    * ONE declarative plan, the stage every real pretraining corpus
    * starts at and the third flagship next to `q_pretrain_pipeline`
    * (gates-first) and `q_embed_pipeline` (vectors): markup extraction
    * (`Extract.extractHtml` over the deterministic page skeleton) →
    * chrome-robust exact dedup keyed on the LEAD content block's
    * digest (identical article bodies dedup even though per-page
    * chrome — nav links, related-items lists — differs by URL, which
    * whole-page digests would miss) → Gopher lexical gate on the
    * extracted content (`Corpus.gopherStats`, paper thresholds) →
    * 512-token sequence packing per source shard
    * (`Corpus.packManifest`). Every stage is the already-oracle-proven
    * operator and the chained DuckDB oracle re-derives the whole
    * composition: page generation, block algebra, lead-block digest,
    * keeper minima, word stats, cumulative token sums and interval
    * fills.
    *
    * Scale shape: extraction is scan-side (zero shuffle); dedup
    * shuffles 16-byte digests; the gopher gate is the proven two-level
    * token agg; the source re-attach is a doc_id-keyed equi-join of
    * co-partitionable tables (bucketed layouts make it exchange-free);
    * packing windows per shard. No new shuffle kind beyond the
    * component operators. */
  /** Shared oracle-SQL fragments for the flagship tails —
    * `q_web_pipeline` and `q_crawl_pipeline` re-derive the SAME
    * lead-block dedup, Gopher gate and 512-token packing, so the SQL
    * lives once. */
  private object PipelineSql {
    /** Lead-block exact dedup (consumes `g`, yields
      * `s1(doc_id, content)`; zero-kept docs pass through —
      * `Extract.leadBlockDedup` re-derived). */
    val leadDedup: String =
      s"""exc AS (SELECT doc_id,
         |   array_to_string(list_transform(kept, s -> s.t), chr(10)) AS content,
         |   len(kept) AS n_kept
         |  FROM (SELECT doc_id,
         |    list_filter(bs, s -> s.w >= 5 AND s.lw * 3 <= s.w * 1) AS kept FROM g)),
         |mk AS (SELECT doc_id, content,
         |   md5(split_part(content, chr(10), 1)) AS mkey FROM exc WHERE n_kept > 0),
         |keep1 AS (SELECT mkey, min(doc_id) AS kid FROM mk GROUP BY mkey),
         |s1 AS (SELECT mk.doc_id, mk.content FROM mk
         |  JOIN keep1 ON keep1.mkey = mk.mkey AND keep1.kid = mk.doc_id
         |  UNION ALL SELECT doc_id, content FROM exc WHERE n_kept = 0)""".stripMargin

    /** Gopher gate over `s1` (yields `gk(doc_id)` — the
      * `Corpus.gopherStats` thresholds re-derived). */
    val gopherGate: String =
      s"""tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(content), '\\s+')) AS w FROM s1),
         |wf AS (SELECT doc_id, w, count(*) AS f1, sum(length(w)) AS lsum
         |  FROM tok GROUP BY doc_id, w),
         |per AS (SELECT doc_id, sum(f1) AS n_words, count(*) AS n_distinct,
         |        max(f1) AS top_f, sum(lsum) AS charsum FROM wf GROUP BY doc_id),
         |gk AS (SELECT doc_id FROM per WHERE n_words >= 30
         |  AND round(charsum / CAST(n_words AS DOUBLE), 6) BETWEEN 3.0 AND 10.0
         |  AND round(n_distinct / CAST(n_words AS DOUBLE), 6) >= 0.4
         |  AND round(top_f / CAST(n_words AS DOUBLE), 6) <= 0.15)""".stripMargin

    /** 512-token sequence packing over `s2(doc_id, content, shard)` —
      * CTEs + final SELECT (`Corpus.packManifest` re-derived). */
    val packTail: String =
      s"""t AS (SELECT doc_id, shard,
         |  CASE WHEN coalesce(trim(content), '') = '' THEN CAST(0 AS BIGINT)
         |       ELSE CAST(len(regexp_split_to_array(trim(content), '\\s+')) AS BIGINT)
         |  END AS n_tokens
         | FROM s2),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |                      ROWS UNBOUNDED PRECEDING) AS end_tok
         | FROM t),
         |p AS (SELECT doc_id, shard, n_tokens,
         |  CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
         |  CAST((end_tok - n_tokens) // 512 AS BIGINT) AS seq_first,
         |  CAST((end_tok - 1) // 512 AS BIGINT) AS seq_last
         | FROM c WHERE n_tokens > 0),
         |m AS (SELECT shard, doc_id, n_tokens, start_tok,
         |  unnest(generate_series(seq_first, seq_last)) AS seq_id FROM p)
         |SELECT shard, CAST(seq_id AS INT) AS seq_id,
         | CAST(count(*) AS INT) AS n_docs,
         | min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         | CAST(sum(least(start_tok + n_tokens, (seq_id + 1) * 512)
         |        - greatest(start_tok, seq_id * 512)) AS BIGINT) AS n_fill
         |FROM m GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin
  }

  private val qWebPipeline = Q(
    "q_web_pipeline",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ex = operators.Extract.extractHtml(
        operators.Extract.htmlWrapped(docs, "doc_id", "text"),
        "doc_id", "html")
      val s1 = operators.Extract.leadBlockDedup(ex)
      val quality = operators.Corpus.gopherStats(s1, "doc_id", "content")
        .filter(col("keep") === 1).select("doc_id")
      val s2 = s1.join(quality, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      operators.Corpus.packManifest(s2, "doc_id", "content", "source",
        seqLen = 512)
    },
    Some(s"""WITH h AS (SELECT doc_id, ${ExtractSql.gen} AS html FROM documents),
         |${ExtractSql.hToG},
         |${PipelineSql.leadDedup},
         |${PipelineSql.gopherGate},
         |s2 AS (SELECT s1.doc_id, s1.content, d.source AS shard FROM s1
         |  JOIN gk ON gk.doc_id = s1.doc_id
         |  JOIN documents d ON d.doc_id = s1.doc_id),
         |${PipelineSql.packTail}""".stripMargin))

  /** The CRAWL flagship — WARC bytes to packed training manifest in
    * ONE declarative plan, composing every crawl-side operator end to
    * end: length-delimited WARC record parse (corrupt files stop,
    * requests filter out) → robots.txt longest-match admission on the
    * crawled URI path (each host blocks one language subtree; a
    * longer Allow re-admits its id-prefix-2 pages) → markup
    * extraction of the HTTP response bodies → chrome-robust
    * lead-block dedup → Gopher lexical gate → 512-token packing per
    * source shard (shard recovered from the crawl domain). Every
    * stage is the already-oracle-proven operator and the chained
    * recursive DuckDB oracle re-derives the WHOLE composition from
    * record framing to packed token intervals.
    *
    * Scale shape: parse and extraction are scan-side per-file/per-row
    * native scans; robots rules broadcast; the only shuffles are the
    * generator's group-by (real ingestion reads files), the 16-byte
    * digest dedup, the gopher token agg, doc_id-keyed equi-joins and
    * the packing windows — no new shuffle kind beyond the component
    * operators. */
  private val qCrawlPipeline = {
    import operators.Extract.Url
    Q(
      "q_crawl_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val parsed = operators.Warc.parseWarc(operators.Warc.warcFiles(
          operators.Warc.warcRecords(docs, "doc_id", "text", "source")))
        // ONE linear chain: path/shard derived on the response rows,
        // the robots verdict folds row-locally over broadcast per-host
        // rule arrays, and body/shard are CARRIED through gate →
        // extraction → dedup so the parse subtree is never re-joined
        // for metadata re-attachment.
        val resp = operators.Warc.responses(parsed)
          .withColumn("path", regexp_extract(col("uri"), Url.Path, 1))
          .withColumn("shard", regexp_extract(col("domain"), "^([^.]+)", 1))
        // r16: per-host rule arrays built with the fused hostRules
        // spelling — no explode/regroup Exchange on the broadcast side
        val rules = operators.Robots.hostRules(
          operators.Robots.robotsWrapped(docs, "source"), "host", "robots_txt")
        val admitted = operators.Robots
          .robotsGateGrouped(resp, rules, carry = Seq("body", "shard"))
          .filter(col("allowed") === 1)
        val ex = operators.Extract.extractHtml(admitted, "doc_id", "body",
          carry = Seq("shard"))
        val s1 = operators.Extract.leadBlockDedup(ex, carry = Seq("shard"))
        val quality = operators.Corpus.gopherStats(s1, "doc_id", "content")
          .filter(col("keep") === 1).select("doc_id")
        val s2 = s1.join(quality, Seq("doc_id"))
        operators.Corpus.packManifest(s2, "doc_id", "content", "shard",
          seqLen = 512)
      },
      Some(s"""WITH RECURSIVE
           |${WarcSql.genParse},
           |${WarcSql.respCte},
           |${RobotsSql.rules},
           |ap AS (SELECT r.doc_id, r.domain AS host,
           |   regexp_extract(r.uri, '${Url.Path}', 1) AS path FROM resp r),
           |adm AS (SELECT doc_id FROM (
           |  SELECT ap.doc_id,
           |    max(CASE WHEN rpath IS NOT NULL AND starts_with(path, rpath)
           |      AND rtype = 'allow' THEN length(rpath) END) AS ma,
           |    max(CASE WHEN rpath IS NOT NULL AND starts_with(path, rpath)
           |      AND rtype = 'disallow' THEN length(rpath) END) AS md
           |  FROM ap LEFT JOIN rl ON rl.host = ap.host GROUP BY ap.doc_id)
           | WHERE coalesce(ma, -1) >= coalesce(md, -1)),
           |h AS (SELECT r.doc_id, r.body AS html FROM resp r JOIN adm USING (doc_id)),
           |${ExtractSql.hToG},
           |${PipelineSql.leadDedup},
           |${PipelineSql.gopherGate},
           |s2 AS (SELECT s1.doc_id, s1.content,
           |  regexp_extract(r.domain, '^([^.]+)', 1) AS shard FROM s1
           |  JOIN gk ON gk.doc_id = s1.doc_id
           |  JOIN resp r ON r.doc_id = s1.doc_id),
           |${PipelineSql.packTail}""".stripMargin))
  }

  private val qPretrainPipeline = {
    val weights = Map("src0" -> 2.5, "src1" -> 2.0, "src2" -> 0.5, "src3" -> 0.0)
    val k = 8
    val terms = (0 until k).map(j => s"w[i+$j]").mkString(", ")
    Q(
      "q_pretrain_pipeline",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bench = docs.filter(col("doc_id") % 10 === 0)
        val gated = docs.filter(col("doc_id") % 10 =!= 0)
          .filter(operators.Corpus.langQualityGate(col("text")))
        val keepers = gated
          .groupBy(md5(col("text").cast("binary")).as("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val kept = gated.join(keepers, Seq("doc_id"), "left_semi")
        val bf = operators.Corpus.fitDecontaminationBloom(
          bench, "doc_id", "text", k = k)
        val clean = kept.filter(
          operators.Corpus.decontaminationGate(s, bf, col("text"), k = k))
        // (doc, epoch) identity for the pack window: copies <= 3 under
        // these weights, so doc_id*4+epoch is collision-free and
        // recovers both halves by div/mod
        val mixed = operators.Corpus.mixDomains(clean, "doc_id", "source",
            weights, defaultWeight = 1.0, carryCols = Seq("text"),
            ordered = false)
          .withColumn("doc_key", col("doc_id") * 4 + col("epoch"))
        operators.Corpus.packSequences(mixed, "doc_key", "text", "source",
            seqLen = 512)
          .select(expr("doc_id div 4").as("doc_id"),
                  (col("doc_id") % 4).cast("int").as("epoch"),
                  col("shard"), col("n_tokens"), col("start_tok"),
                  col("seq_first"), col("seq_last"), col("seq_offset"))
          .orderBy("doc_id", "epoch")
      },
      Some(s"""WITH gated AS (SELECT doc_id, text, source FROM documents
           | WHERE doc_id % 10 <> 0
           |  AND len(regexp_extract_all(text, '\\b(the|and|of|is|to)\\b')) >= len(regexp_extract_all(text, '\\b(der|die|und|ist|das)\\b'))
           |  AND len(regexp_extract_all(text, '\\b(the|and|of|is|to)\\b')) >= len(regexp_extract_all(text, '\\b(le|la|et|est|les)\\b'))
           |  AND len(regexp_extract_all(text, '\\b(the|and|of|is|to)\\b')) >= len(regexp_extract_all(text, '\\b(el|los|y|es|las)\\b'))
           |  AND len(regexp_split_to_array(trim(text), '\\s+')) >= 20
           |  AND round(CAST(len(regexp_extract_all(text, '\\b(the|a|an|of|to|and|in|is|for|on|with)\\b')) AS DOUBLE)
           |        / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 6) >= 0.05),
           |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
           |kept AS (SELECT g.doc_id, g.text, g.source FROM gated g
           |         JOIN keep k ON g.doc_id = k.doc_id),
           |bw AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
           |       FROM documents WHERE doc_id % 10 = 0),
           |bsh AS (SELECT DISTINCT unnest(list_transform(
           |   generate_series(1, len(w)-${k - 1}), i -> concat_ws(' ', $terms))) AS s
           | FROM bw WHERE len(w) >= $k),
           |csh AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |   generate_series(1, len(w)-${k - 1}), i -> concat_ws(' ', $terms)))) AS s
           | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
           |       FROM kept) WHERE len(w) >= $k),
           |hits AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (s)),
           |clean AS (SELECT doc_id, text, source FROM kept
           |          WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
           |wt(source, fl, fx) AS (VALUES ('src0', 2, '80000000'), ('src1', 2, '00000000'),
           |                             ('src2', 0, '80000000'), ('src3', 0, '00000000')),
           |m AS (SELECT doc_id, c.source, text,
           |   coalesce(fl, 1) + CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
           |                               < coalesce(fx, '00000000')
           |                     THEN 1 ELSE 0 END AS copies
           |  FROM clean c LEFT JOIN wt ON c.source = wt.source),
           |mx AS (SELECT doc_id * 4 + e AS doc_key, source, text FROM
           |   (SELECT doc_id, source, text, unnest(generate_series(1, copies)) AS e
           |    FROM m WHERE copies >= 1)),
           |t AS (SELECT doc_key, source AS shard,
           |  CASE WHEN coalesce(trim(text), '') = '' THEN CAST(0 AS BIGINT)
           |       ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           |  END AS n_tokens
           | FROM mx),
           |c AS (SELECT doc_key, shard, n_tokens,
           |  sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_key
           |                      ROWS UNBOUNDED PRECEDING) AS end_tok
           | FROM t)
           |SELECT doc_key // 4 AS doc_id, CAST(doc_key % 4 AS INT) AS epoch, shard,
           | CAST(n_tokens AS INT) AS n_tokens,
           | CAST(end_tok - n_tokens AS BIGINT) AS start_tok,
           | CAST((end_tok - n_tokens) // 512 AS INT) AS seq_first,
           | CAST(CASE WHEN n_tokens = 0 THEN (end_tok - n_tokens) // 512
           |      ELSE (end_tok - 1) // 512 END AS INT) AS seq_last,
           | CAST((end_tok - n_tokens) % 512 AS INT) AS seq_offset
           |FROM c ORDER BY doc_id, epoch""".stripMargin))
  }

  /** PII scrub (release gate): category counts + fixed-order masking.
    * The synthetic corpus carries no organic PII, so the query plants a
    * deterministic email/IP per doc (phone on doc_id%3=0, SSN on %5=0)
    * via the SAME concat on both engines, then the oracle re-derives
    * every count and the full redacted text with RE2 — proving the
    * pattern set behaves identically under Java regex and RE2. Scan-
    * side per-row regexes; zero shuffle at any scale. */
  private val qPiiRedact = {
    import operators.Corpus.Pii
    Q(
      "q_pii_redact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val planted = docs.select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
            lit(" from 10."), (col("doc_id") % 200).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" call 555-867-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit("")),
            when(col("doc_id") % 5 === 0, lit(" ssn 123-45-6789"))
              .otherwise(lit(""))).as("text"))
        operators.Corpus.redactPii(planted, "doc_id", "text")
      },
      Some(s"""WITH planted AS (SELECT doc_id,
           |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
           |   || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR)
           |   || CASE WHEN doc_id % 3 = 0 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
           |   || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
           | FROM documents)
           |SELECT doc_id,
           | CAST(len(regexp_extract_all(text, '${Pii.Email}')) AS INT) AS n_emails,
           | CAST(len(regexp_extract_all(text, '${Pii.Ssn}')) AS INT) AS n_ssns,
           | CAST(len(regexp_extract_all(text, '${Pii.Phone}')) AS INT) AS n_phones,
           | CAST(len(regexp_extract_all(text, '${Pii.Ipv4}')) AS INT) AS n_ips,
           | regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           |   '${Pii.Email}', '<EMAIL>', 'g'), '${Pii.Ssn}', '<SSN>', 'g'),
           |   '${Pii.Phone}', '<PHONE>', 'g'), '${Pii.Ipv4}', '<IP>', 'g') AS clean_text,
           | CAST(len(regexp_extract_all(text, '${Pii.Email}'))
           |  + len(regexp_extract_all(text, '${Pii.Ssn}'))
           |  + len(regexp_extract_all(text, '${Pii.Phone}'))
           |  + len(regexp_extract_all(text, '${Pii.Ipv4}')) AS INT) AS pii_total
           |FROM planted ORDER BY doc_id""".stripMargin))
  }

  /** Markup boilerplate extraction (the step BEFORE every other corpus
    * gate): each document is wrapped in the deterministic page skeleton
    * via the SAME concat on both engines (the `q_pii_redact` plant
    * pattern), then `Extract.extractHtml` strips script/style, splits
    * on block tags, strips inline tags, decodes entities, and keeps
    * blocks by min-words + integer-exact link density. The oracle
    * re-derives generation AND extraction end to end with the SAME
    * RE2-safe pattern strings — content is hash-compared, so tag
    * stripping, entity decode order, whitespace squeeze, the density
    * boundary (doc_id%8 filler words flip the <li> verdict both ways)
    * and block ordering are all pinned. Pure scan-side per-row
    * expressions: zero shuffle at any scale. */
  /** Shared oracle-SQL fragments for the HTML page skeleton and the
    * extraction CTE chain — `q_extract_html`, its stream twin,
    * `q_web_pipeline` and the WARC front door all re-derive the SAME
    * generation and extraction, so the SQL lives once. Patterns are
    * the RE2-safe `Extract.Html` strings verbatim; the entity decode
    * mirrors `functions.EntityDecode`'s single-pass scan (Latin-1
    * range, out-of-range references pass through verbatim). */
  private object ExtractSql {
    import operators.Extract.Html

    /** The page-skeleton expression over a documents row (doc_id,
      * text) — must stay in lockstep with `Extract.htmlWrapped`. */
    val gen: String =
      "'<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || '</title>'" +
        " || '<style>body { color: #fff; }</style></head><body>'" +
        " || '<!-- <p>hidden draft ' || CAST(doc_id AS VARCHAR) ||" +
        " ' with eight leaked words never visible</p> -->'" +
        " || '<![CDATA[<raw markup & six more hidden words>]]>'" +
        " || '<nav><a href=\"/\">home</a> <a href=\"/about\">about site</a>" +
        " <a href=\"/c\">contact us</a></nav>'" +
        " || '<script>var doc = ' || CAST(doc_id AS VARCHAR) || '; track();</script>'" +
        " || '<p>' || coalesce(text, '') ||" +
        " ' &amp; tail &lt;x&gt; &quot;quoted&quot; &#39;q&#39;&nbsp;end'" +
        " || ' <b>num &#65;&#x42; far &#9731; esc &amp;#77; fin</p>'" +
        " || '<li>see <a href=\"/d/' || CAST(doc_id AS VARCHAR) || '\">link '" +
        " || CAST(doc_id AS VARCHAR) || '</a>'" +
        " || repeat(' w', CAST(doc_id % 8 AS INT)) || ' mid tail</li>'" +
        " || '<footer>copyright 2026</footer></body></html>'"

    /** Decimal codepoint of a post-`&` segment (0 when the segment
      * does not start with a decimal reference). Single line so it
      * interpolates cleanly under stripMargin. */
    private val dec: String =
      "coalesce(try_cast(regexp_extract(seg, '^#([0-9]{1,7});', 1) AS INT), 0)"

    /** Hex digits of a post-`&` segment's reference ('' when absent). */
    private val hs: String =
      "lower(regexp_extract(seg, '^#[xX]([0-9a-fA-F]{1,6});', 1))"

    /** Hex codepoint (0 when absent) — positional fold over `hs`. */
    private val hex: String =
      s"CAST(coalesce(list_sum(list_transform(generate_series(1, length($hs))," +
        s" i -> (strpos('0123456789abcdef', substr($hs, i, 1)) - 1)" +
        s" * CAST(pow(16, length($hs) - i) AS BIGINT))), 0) AS INT)"

    /** Single-pass entity decode of one post-`&` segment — the DuckDB
      * spelling of `functions.EntityDecode`'s scan: a segment either
      * starts with a recognized entity body (named, or numeric in
      * Latin-1 1..255) and becomes the decoded char plus the
      * remainder, or is emitted verbatim behind its `&`. Each `&` is
      * consumed at most once on both engines. */
    private val segDec: String =
      "CASE WHEN starts_with(seg, 'lt;') THEN '<' || substr(seg, 4)" +
        " WHEN starts_with(seg, 'gt;') THEN '>' || substr(seg, 4)" +
        " WHEN starts_with(seg, 'quot;') THEN '\"' || substr(seg, 6)" +
        " WHEN starts_with(seg, 'nbsp;') THEN ' ' || substr(seg, 6)" +
        " WHEN starts_with(seg, 'amp;') THEN '&' || substr(seg, 5)" +
        s" WHEN $dec BETWEEN 1 AND 255 THEN chr($dec)" +
        " || regexp_replace(seg, '^#[0-9]{1,7};', '')" +
        s" WHEN $hex BETWEEN 1 AND 255 THEN chr($hex)" +
        " || regexp_replace(seg, '^#[xX][0-9a-fA-F]{1,6};', '')" +
        " ELSE '&' || seg END"

    /** CTE chain from `h(doc_id, html)` to `g(doc_id, bs)` with
      * bs = list<{t, w, lw}>: comment/CDATA and script/style strip,
      * block split, tag strip, single-pass entity decode (split on
      * `&`, decode each segment head once), whitespace squeeze, then
      * per-block word counts. */
    val hToG: String =
      s"""f0 AS (SELECT doc_id, list_transform(
         |   regexp_split_to_array(regexp_replace(regexp_replace(html,
         |     '${Html.ScriptStyle}', ' ', 'g'), '${Html.CommentCdata}', ' ', 'g'), '${Html.BlockSplit}'),
         |   b -> {'segs': string_split(regexp_replace(b, '${Html.Tag}', ' ', 'g'), '&'),
         |        'lw': CAST(coalesce(list_sum(list_transform(
         |               regexp_extract_all(b, '${Html.Anchor}', 1),
         |               a -> len(regexp_extract_all(a, '${Html.Word}')))), 0) AS INT)}) AS bs
         | FROM h),
         |f AS (SELECT doc_id, list_transform(bs, s -> {'t':
         |   trim(regexp_replace(s.segs[1] || coalesce(array_to_string(
         |     list_transform(s.segs[2:], seg -> $segDec), ''), ''), '\\s+', ' ', 'g')),
         |   'lw': s.lw}) AS bs FROM f0),
         |g AS (SELECT doc_id, list_transform(bs, s -> {'t': s.t,
         |   'w': CAST(len(regexp_extract_all(s.t, '${Html.Word}')) AS INT), 'lw': s.lw}) AS bs
         | FROM f)""".stripMargin
  }

  private val qExtractHtml = {
    val extractSql =
      s"""WITH h AS (SELECT doc_id, ${ExtractSql.gen} AS html FROM documents),
         |${ExtractSql.hToG},
         |k AS (SELECT doc_id, bs,
         |   list_filter(bs, s -> s.w >= 5 AND s.lw * 3 <= s.w * 1) AS kept FROM g)
         |SELECT doc_id,
         | CAST(len(list_filter(bs, s -> s.w >= 1)) AS INT) AS n_blocks,
         | CAST(len(kept) AS INT) AS n_kept,
         | CAST(coalesce(list_sum(list_transform(kept, s -> s.w)), 0) AS INT) AS n_words,
         | array_to_string(list_transform(kept, s -> s.t), chr(10)) AS content
         |FROM k ORDER BY doc_id""".stripMargin
    Q(
      "q_extract_html",
      (s, d) => operators.Extract.extractHtml(
        operators.Extract.htmlWrapped(Tables.documents(s, d), "doc_id", "text"),
        "doc_id", "html").orderBy("doc_id"),
      Some(extractSql))
  }

  /** The markup-extraction STREAMING twin drained to its end state:
    * wrap + extract are both stateless per-row selects, so the batch
    * transform runs verbatim in append mode and the batch oracle
    * applies unchanged. */
  private val qExtractHtmlStream = Q(
    "q_extract_html_stream",
    (s, d) => streaming.CorpusStream.htmlExtractedOverFile(s, d)
      .orderBy("doc_id"),
    qExtractHtml.oracle)

  /** JSONL ingestion (`operators/Ingest`): each document serialized
    * through the ENGINE'S OWN JSON codec and parsed back against the
    * expected schema — the serializations differ textually between
    * Spark and DuckDB, but parse∘build is the identity on both, so
    * every extracted field must match value-for-value; truncated
    * lines (doc_id % 17, invalid by construction) must surface as
    * valid=0 all-null rows, the count-don't-crash ingestion rule.
    * Pure codegen'd per-row expressions, zero shuffle. */
  private val qParseJsonl = Q(
    "q_parse_jsonl",
    (s, d) => operators.Ingest.parseJsonl(
      operators.Ingest.jsonlWrapped(Tables.documents(s, d),
        "doc_id", "text", "source", "lang")).orderBy("doc_id"),
    Some("""WITH raw AS (SELECT doc_id,
           |  CAST(to_json({id: doc_id, meta: {source: source, lang: lang},
           |    text: coalesce(text, ''), score: doc_id % 100 / 100.0,
           |    tags: ['alpha', 'b-' || CAST(doc_id % 5 AS VARCHAR)]}) AS VARCHAR) AS line
           | FROM documents),
           |j AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0
           |    THEN substr(line, 1, length(line) - 3) ELSE line END AS line FROM raw)
           |SELECT doc_id,
           | CAST(CASE WHEN json_valid(line) THEN 1 ELSE 0 END AS INT) AS valid,
           | CASE WHEN json_valid(line) THEN json_extract_string(line, '$.meta.source') END AS source,
           | CASE WHEN json_valid(line) THEN json_extract_string(line, '$.meta.lang') END AS lang,
           | CAST(CASE WHEN json_valid(line) THEN length(json_extract_string(line, '$.text')) END AS INT) AS n_text_chars,
           | CASE WHEN json_valid(line) THEN CAST(json_extract(line, '$.score') AS DOUBLE) END AS score,
           | CASE WHEN json_valid(line) THEN json_extract_string(line, '$.tags[1]') END AS tag2
           |FROM j ORDER BY doc_id""".stripMargin))

  /** Shared oracle-SQL fragments for URL parsing/canonicalization —
    * `q_url_parse` and `q_url_dedup` re-derive the SAME parse chain.
    * Patterns are the RE2-safe `Extract.Url` strings verbatim; the
    * percent normalization mirrors `Extract.pctNormalized` (RFC 3986
    * §6.2.2: decode unreserved octets, uppercase the rest). */
  private object UrlSql {
    import operators.Extract.Url

    private val pctCode: String =
      "CAST((strpos('0123456789abcdef', substr(lower(e), 2, 1)) - 1) * 16" +
        " + (strpos('0123456789abcdef', substr(lower(e), 3, 1)) - 1) AS INT)"

    private val pctNorm: String =
      s"list_reduce(list_prepend(rawpath, list_distinct(" +
        s"regexp_extract_all(rawpath, '${Url.Pct}')))," +
        s" (acc, e) -> CASE WHEN $pctCode BETWEEN 65 AND 90" +
        s" OR $pctCode BETWEEN 97 AND 122 OR $pctCode BETWEEN 48 AND 57" +
        s" OR $pctCode IN (45, 46, 95, 126)" +
        s" THEN replace(acc, e, chr($pctCode))" +
        s" ELSE replace(acc, e, upper(e)) END)"

    /** CTE chain from `u(doc_id, url)` to `c(doc_id, scheme, host,
      * domain, port, path, ref, params, canonical)`. */
    val uToC: String =
      s"""p AS (SELECT doc_id, url,
         |  regexp_extract(url, '${Url.Scheme}', 1) AS scheme,
         |  regexp_extract(url, '${Url.Auth}', 1) AS auth,
         |  regexp_extract(url, '${Url.Path}', 1) AS rawpath,
         |  regexp_extract(url, '${Url.Query}', 1) AS query,
         |  regexp_extract(url, '${Url.Ref}', 1) AS ref
         | FROM u),
         |q2 AS (SELECT doc_id, scheme,
         |  regexp_replace(auth, ':[0-9]+$$', '') AS host,
         |  regexp_extract(auth, ':([0-9]+)$$', 1) AS portstr,
         |  $pctNorm AS path,
         |  array_to_string(list_sort(list_filter(string_split(query, '&'),
         |    x -> x <> '' AND NOT regexp_matches(x, '^utm_'))), '&') AS params,
         |  ref
         | FROM p),
         |c AS (SELECT doc_id, scheme, host,
         |  regexp_replace(host, '^www\\.', '') AS domain,
         |  CAST(CASE WHEN portstr = '' THEN NULL ELSE portstr END AS INT) AS port,
         |  path, ref, params,
         |  scheme || '://' || regexp_replace(host, '^www\\.', '') ||
         |  CASE WHEN portstr = '' OR (scheme = 'http' AND portstr = '80')
         |            OR (scheme = 'https' AND portstr = '443')
         |     THEN '' ELSE ':' || portstr END ||
         |  CASE WHEN path = '' THEN '/' ELSE path END ||
         |  CASE WHEN params = '' THEN '' ELSE '?' || params END AS canonical
         | FROM q2)""".stripMargin
  }

  /** URL parsing/canonicalization (crawl metadata): scheme, host,
    * bare domain, explicit port (defaults stripped in the canonical),
    * percent-normalized path (RFC 3986 §6.2.2), the ref parameter,
    * sorted tracking-free query params, and the canonical form — the
    * fields a crawl pipeline's domain quotas and canonical-URL dedup
    * run on. Same RE2-safe shared pattern rule as the Html/Pii sets;
    * the generator plants every rule BOTH ways (see
    * `Extract.urlWrapped`). Scan-side regex/HOF work, zero shuffle. */
  private val qUrlParse = Q(
    "q_url_parse",
    (s, d) => operators.Extract.urlParts(
      operators.Extract.urlWrapped(Tables.documents(s, d),
        "doc_id", "source", "lang"), "doc_id", "url").orderBy("doc_id"),
    Some(s"""WITH u AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END || '://'
         |  || CASE WHEN doc_id % 2 = 1 THEN 'www.' ELSE '' END
         |  || source || '.example.com'
         |  || CASE WHEN doc_id % 4 = 0 THEN
         |       CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE ':443' END
         |     WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
         |  || CASE WHEN doc_id % 6 = 0 THEN ''
         |     ELSE '/' || lang || '/p%41ge%2f-' || CAST(doc_id AS VARCHAR) END
         |  || '?ref=r' || CAST(doc_id % 7 AS VARCHAR) || '&utm_source=feed&z=2&a=1'
         |  || CASE WHEN doc_id % 3 = 0 THEN '#section-2' ELSE '' END AS url
         | FROM documents),
         |${UrlSql.uToC}
         |SELECT doc_id, scheme, host, domain, port, path, ref, params, canonical
         |FROM c ORDER BY doc_id""".stripMargin))

  /** robots.txt gating (`operators/Robots`) — crawl admission control:
    * per-host robots bodies (generated deterministically per source
    * host with parser noise planted: comments, blank lines,
    * User-agent, Crawl-delay, an empty Disallow) parse into prefix
    * rules, and every URL is gated by the LONGEST matching rule with
    * Allow winning ties (RFC 9309 longest-match, prefix-only core).
    * The verdict is two scalar aggregates (longest Allow / longest
    * Disallow match) — one broadcast join + one hash agg, the 100 TB
    * shape. Rules planted both ways: each host blocks one language
    * subtree, a LONGER Allow re-admits its page-ids starting with 2,
    * and a dead rule never matches. */
  /** Shared oracle-SQL fragment: the generated per-host robots rules
    * (`Robots.robotsWrapped` + `Robots.parseRobots` re-derived) as
    * CTEs ending in `rl(host, rtype, rpath)` — used by `q_robots_gate`
    * and the crawl flagship. */
  private object RobotsSql {
    /** See object doc above. */
    val rules: String =
      s"""rb AS (SELECT source, CAST(regexp_extract(source, '[0-9]+') AS INT) AS sfx,
       |  (['de','en','es','fr','zh'])[CAST(regexp_extract(source, '[0-9]+') AS INT) % 5 + 1] AS l0
       | FROM (SELECT DISTINCT source FROM documents)),
       |rt AS (SELECT source || '.example.com' AS host,
       |  'User-agent: *' || chr(10) || '# generated policy' || chr(10) || chr(10) ||
       |  'Disallow: /' || l0 || '/' || chr(10) ||
       |  'Allow: /' || l0 || '/p%41ge%2f-2' || chr(10) ||
       |  'Allow: /' || l0 || '/crawl-2' || chr(10) ||
       |  'Disallow: /x-' || source || '/' || chr(10) ||
       |  'Disallow:' || chr(10) ||
       |  'Crawl-delay: ' || CAST(sfx % 10 AS VARCHAR) || chr(10) AS txt
       | FROM rb),
       |rl AS (SELECT host, rtype, rpath FROM (
       |  SELECT host,
       |    lower(regexp_extract(line, '(?i)^(Allow|Disallow)\\s*:', 1)) AS rtype,
       |    trim(regexp_extract(line, '(?i)^(?:Allow|Disallow)\\s*:\\s*(\\S*)', 1)) AS rpath
       |  FROM (SELECT host, unnest(string_split(txt, chr(10))) AS line FROM rt))
       | WHERE rtype <> '' AND rpath <> '')""".stripMargin
  }

  private val qRobotsGate = {
    import operators.Extract.Url
    Q(
      "q_robots_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val urls = operators.Extract.urlWrapped(docs, "doc_id", "source", "lang")
        val u = urls.select(col("doc_id"),
          operators.Extract.domainOf(col("url")).as("domain"),
          regexp_extract(col("url"), Url.Path, 1).as("path"))
        val rules = operators.Robots.hostRules(
          operators.Robots.robotsWrapped(docs, "source"), "host", "robots_txt")
        operators.Robots.robotsGateGrouped(u, rules).orderBy("doc_id")
      },
      Some(s"""WITH u0 AS (SELECT doc_id,
           |  CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END || '://'
           |  || CASE WHEN doc_id % 2 = 1 THEN 'www.' ELSE '' END
           |  || source || '.example.com'
           |  || CASE WHEN doc_id % 4 = 0 THEN
           |       CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE ':443' END
           |     WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
           |  || CASE WHEN doc_id % 6 = 0 THEN ''
           |     ELSE '/' || lang || '/p%41ge%2f-' || CAST(doc_id AS VARCHAR) END
           |  || '?ref=r' || CAST(doc_id % 7 AS VARCHAR) || '&utm_source=feed&z=2&a=1'
           |  || CASE WHEN doc_id % 3 = 0 THEN '#section-2' ELSE '' END AS url
           | FROM documents),
           |u AS (SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_extract(url, '${Url.Auth}', 1),
           |    ':[0-9]+$$', ''), '^www\\.', '') AS host,
           |  regexp_extract(url, '${Url.Path}', 1) AS path
           | FROM u0),
           |${RobotsSql.rules},
           |gg AS (SELECT doc_id, u.host AS host, path,
           |  CAST(max(CASE WHEN rpath IS NOT NULL AND starts_with(path, rpath)
           |    AND rtype = 'allow' THEN length(rpath) END) AS INT) AS max_allow,
           |  CAST(max(CASE WHEN rpath IS NOT NULL AND starts_with(path, rpath)
           |    AND rtype = 'disallow' THEN length(rpath) END) AS INT) AS max_disallow
           | FROM u LEFT JOIN rl ON rl.host = u.host GROUP BY 1, 2, 3)
           |SELECT doc_id, host, path, max_allow, max_disallow,
           | CAST(coalesce(max_allow, -1) >= coalesce(max_disallow, -1) AS INT) AS allowed
           |FROM gg ORDER BY doc_id""".stripMargin))
  }

  /** Canonical-URL exact dedup — the crawl-side companion to content
    * dedup: raw URLs canonicalize (www/default-port/fragment/percent
    * spelling/tracking-param noise collapses; scheme and real ports
    * split), then one groupBy on the canonical key elects the
    * min-doc_id keeper per group. The only shuffle is on the
    * canonical string — the 100 TB shape of URL-level dedup. */
  private val qUrlDedup = Q(
    "q_url_dedup",
    (s, d) => operators.Extract.urlParts(
        operators.Extract.urlWrappedCoarse(Tables.documents(s, d),
          "doc_id", "source", "lang"), "doc_id", "url")
      .groupBy("canonical")
      .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_dups"))
      .orderBy("canonical"),
    Some(s"""WITH u AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END || '://'
         |  || CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END
         |  || source || '.example.com'
         |  || CASE WHEN doc_id % 4 = 0 THEN
         |       CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE ':443' END
         |     WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
         |  || '/' || lang
         |  || CASE WHEN doc_id % 3 = 1 THEN '/p%41ge%2f-' ELSE '/pAge%2F-' END
         |  || CAST(doc_id % 50 AS VARCHAR)
         |  || '?utm_source=feed&z=2&a=1'
         |  || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
         | FROM documents),
         |${UrlSql.uToC}
         |SELECT canonical, min(doc_id) AS keeper, count(*) AS n_dups
         |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin))

  /** JSONL ingestion STREAMING twin: wrap + parse are stateless
    * per-row selects, so a live JSONL feed parses at scan speed in
    * append mode and the batch oracle applies verbatim. */
  private val qParseJsonlStream = Q(
    "q_parse_jsonl_stream",
    (s, d) => streaming.CorpusStream.parseJsonlOverFile(s, d)
      .orderBy("doc_id"),
    qParseJsonl.oracle)

  /** WARC ingestion (`operators/Warc`) — the crawl front door: each
    * document is wrapped as a WARC record through identical concat
    * algebra on both engines (version line, typed header block,
    * Content-Length, CRLF framing; response payloads are genuine HTTP
    * messages whose bodies are the `Extract.htmlWrapped` skeleton, so
    * the record separator occurs INSIDE every payload), records are
    * concatenated into files in doc_id order, and the offset-walking
    * length-delimited parser recovers every record: Spark folds the
    * state machine per file, the DuckDB oracle walks the SAME machine
    * as a recursive CTE — independent spellings, identical semantics,
    * value-for-value compare. Planted `request` records are framed
    * past but filtered out; planted corrupt records (non-numeric
    * length id%23==11, over-stated length id%23==17) count in n_bad
    * and the walk RESYNCS to the next record magic, so the healthy
    * records behind a corrupt one still parse — count-don't-crash
    * with warcio-style recovery. The parsed target URIs chain into
    * the shared Url parse (domain) and the bodies into `extractHtml`
    * (block stats), end to end under ONE oracle. */
  /** Shared oracle-SQL fragments for the WARC chain — `q_parse_warc`,
    * its stream twin and `q_crawl_pipeline` re-derive the SAME
    * generation + recursive parse, so the SQL lives once. Must open
    * under `WITH RECURSIVE`. */
  private object WarcSql {
    import operators.Extract.Url

    /** CTEs from `documents` to `parse(gid, ridx, bad, typ, uri,
      * wdate, clen, payload)` — generation (ASCII-stripped text, the
      * skeleton page as an HTTP response payload, per-doc WARC record,
      * files of consecutive id blocks `doc_id // 32` so records/file
      * is ≤32 — under the walk's 64-record bound — at every scale
      * factor, mirroring `Warc.warcFiles`) and the offset-walking
      * recursive parse. */
    val genParse: String =
      s"""d2 AS (SELECT doc_id, regexp_replace(coalesce(text, ''), '[^ -~]', '', 'g') AS text,
         |       source, lang FROM documents),
         |hg AS (SELECT doc_id, source, lang, ${ExtractSql.gen} AS html FROM d2),
         |r0 AS (SELECT doc_id,
         |   CASE WHEN doc_id % 11 = 7 THEN 'request' ELSE 'response' END AS typ,
         |   'https://' || CASE WHEN doc_id % 2 = 1 THEN 'www.' ELSE '' END || source ||
         |     '.example.com/' || lang || '/crawl-' || CAST(doc_id AS VARCHAR) AS uri,
         |   CASE WHEN doc_id % 11 = 7 THEN 'GET / HTTP/1.1'
         |        ELSE 'HTTP/1.1 200 OK' || chr(13)||chr(10) || 'Content-Type: text/html' ||
         |          chr(13)||chr(10)||chr(13)||chr(10) || html END AS payload,
         |   '2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T12:00:00Z' AS wdate
         | FROM hg),
         |r1 AS (SELECT doc_id,
         |   'WARC/1.0' || chr(13)||chr(10) ||
         |   'WARC-Type: ' || typ || chr(13)||chr(10) ||
         |   'WARC-Target-URI: ' || uri || chr(13)||chr(10) ||
         |   'WARC-Date: ' || wdate || chr(13)||chr(10) ||
         |   'Content-Length: ' ||
         |      CASE WHEN doc_id % 23 = 11 THEN 'XX'
         |           WHEN doc_id % 23 = 17 THEN CAST(length(payload) + 50 AS VARCHAR)
         |           ELSE CAST(length(payload) AS VARCHAR) END ||
         |   chr(13)||chr(10)||chr(13)||chr(10) || payload ||
         |   chr(13)||chr(10)||chr(13)||chr(10) AS rec
         | FROM r0),
         |files AS (SELECT CAST(doc_id // 32 AS INT) AS gid,
         |   string_agg(rec, '' ORDER BY doc_id) AS wf FROM r1 GROUP BY 1),
         |parse AS (
         |  SELECT gid, wf, 1 AS off, 0 AS bad, 0 AS ridx,
         |         CAST(NULL AS VARCHAR) AS typ, CAST(NULL AS VARCHAR) AS uri,
         |         CAST(NULL AS VARCHAR) AS wdate, CAST(NULL AS INT) AS clen,
         |         CAST(NULL AS VARCHAR) AS payload
         |  FROM files
         |  UNION ALL
         |  SELECT gid, wf,
         |    CASE WHEN ok THEN pstart + clen + 4
         |         WHEN nmag > 0 THEN nmag
         |         ELSE length(wf) + 1 END,
         |    bad + CASE WHEN ok THEN 0 ELSE 1 END,
         |    ridx + CASE WHEN ok THEN 1 ELSE 0 END,
         |    CASE WHEN ok THEN typ END,
         |    CASE WHEN ok THEN uri END,
         |    CASE WHEN ok THEN wdate END,
         |    CASE WHEN ok THEN clen END,
         |    CASE WHEN ok THEN substr(wf, pstart, clen) END
         |  FROM (
         |    SELECT *,
         |      CASE WHEN ok THEN 0
         |           WHEN strpos(substr(wf, off + 1), 'WARC/1.0' || chr(13)||chr(10)) > 0
         |           THEN off + strpos(substr(wf, off + 1), 'WARC/1.0' || chr(13)||chr(10))
         |           ELSE 0 END AS nmag
         |    FROM (
         |    SELECT *,
         |      (magicok AND hrel > 0 AND clenok AND pstart + clen + 3 <= length(wf)
         |       AND substr(wf, pstart + clen, 4) = chr(13)||chr(10)||chr(13)||chr(10)) AS ok
         |    FROM (
         |      SELECT *, CASE WHEN clenok THEN CAST(clstr AS INT) ELSE 0 END AS clen,
         |             hpos + 4 AS pstart
         |      FROM (
         |        SELECT *, regexp_matches(clstr, '^[0-9]{1,9}$$') AS clenok
         |        FROM (
         |          SELECT *,
         |            regexp_extract(header, '(?m)^WARC-Type: ([^\\r\\n]*)', 1) AS typ,
         |            regexp_extract(header, '(?m)^WARC-Target-URI: ([^\\r\\n]*)', 1) AS uri,
         |            regexp_extract(header, '(?m)^WARC-Date: ([^\\r\\n]*)', 1) AS wdate,
         |            regexp_extract(header, '(?m)^Content-Length: ([^\\r\\n]*)', 1) AS clstr
         |          FROM (
         |            SELECT *, substr(wf, off, hpos - off) AS header
         |            FROM (
         |              SELECT *, CASE WHEN hrel > 0 THEN hrel + off - 1 ELSE off - 1 END AS hpos
         |              FROM (
         |                SELECT gid, wf, off, bad, ridx,
         |                  substr(wf, off, 10) = 'WARC/1.0' || chr(13)||chr(10) AS magicok,
         |                  strpos(substr(wf, off), chr(13)||chr(10)||chr(13)||chr(10)) AS hrel
         |                FROM parse
         |                WHERE off <= length(wf)
         |  ))))))))
         |)""".stripMargin

    /** Response records with the crawl-metadata chain (consumes
      * `parse`, yields `resp(doc_id, gid, ridx, uri, domain, wdate,
      * clen, body)`). */
    val respCte: String =
      s"""resp AS (SELECT CAST(regexp_extract(uri, '/crawl-([0-9]+)$$', 1) AS BIGINT) AS doc_id,
         |   gid, ridx, uri,
         |   regexp_replace(regexp_replace(regexp_extract(uri, '${Url.Auth}', 1),
         |     ':[0-9]+$$', ''), '^www\\.', '') AS domain,
         |   wdate, clen,
         |   regexp_replace(payload, '(?s)^.*?\\r\\n\\r\\n', '') AS body
         |  FROM parse WHERE ridx >= 1 AND typ = 'response')""".stripMargin
  }

  private val qParseWarc = {
    val warcSql =
      s"""WITH RECURSIVE
         |${WarcSql.genParse},
         |stats AS (SELECT gid,
         |   CAST(count(*) FILTER (WHERE typ IS NOT NULL) AS INT) AS n_recs,
         |   CAST(max(bad) AS INT) AS n_bad
         |  FROM parse GROUP BY gid),
         |${WarcSql.respCte},
         |h AS (SELECT doc_id, body AS html FROM resp),
         |${ExtractSql.hToG},
         |ex AS (SELECT doc_id,
         |   CAST(len(list_filter(bs, s -> s.w >= 1)) AS INT) AS n_blocks,
         |   CAST(len(list_filter(bs, s -> s.w >= 5 AND s.lw * 3 <= s.w * 1)) AS INT) AS n_kept,
         |   CAST(coalesce(list_sum(list_transform(
         |     list_filter(bs, s -> s.w >= 5 AND s.lw * 3 <= s.w * 1), s -> s.w)), 0) AS INT) AS n_words
         |  FROM g)
         |SELECT r.doc_id, r.gid, r.ridx, r.uri, r.domain, r.wdate, r.clen,
         |  md5(r.body) AS body_md5, s.n_recs, s.n_bad, e.n_blocks, e.n_kept, e.n_words
         |FROM resp r JOIN stats s USING (gid) JOIN ex e ON e.doc_id = r.doc_id
         |ORDER BY r.doc_id""".stripMargin
    Q(
      "q_parse_warc",
      (s, d) => operators.Warc.parseWarcChain(Tables.documents(s, d))
        .orderBy("doc_id"),
      Some(warcSql))
  }

  /** Sitemap ingestion (`operators/Sitemap`) — the discovery half of
    * the crawl front door next to robots: per-host sitemap XML
    * (sitemaps.org protocol, generated through identical concat on
    * both engines, entries in doc_id order) parses into url entries —
    * mandatory `<loc>` (a planted loc-less draft entry per sitemap is
    * counted and skipped, never thrown on), optional `<lastmod>`
    * (omitted on every third doc — absent → null both ways) and
    * `<priority>` — with the loc chained into the shared Url host
    * parse. Pure per-row regex + one explode: zero shuffle beyond the
    * generator's group-by. */
  private val qParseSitemap = {
    import operators.Extract.Url
    Q(
      "q_parse_sitemap",
      (s, d) => operators.Sitemap.parseSitemap(
        operators.Sitemap.sitemapWrapped(Tables.documents(s, d),
          "doc_id", "source", "lang")).orderBy("doc_id"),
      Some(s"""WITH e0 AS (SELECT source AS src, doc_id,
           |  '<url><loc>https://' || source || '.example.com/' || lang ||
           |    '/page-' || CAST(doc_id AS VARCHAR) || '</loc>' ||
           |  CASE WHEN doc_id % 3 = 0 THEN ''
           |       ELSE '<lastmod>2026-08-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
           |            || '</lastmod>' END ||
           |  '<priority>0.' || CAST(doc_id % 10 AS VARCHAR) || '</priority></url>' AS e
           | FROM documents),
           |sm AS (SELECT src,
           |  '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
           |  || string_agg(e, '' ORDER BY doc_id)
           |  || '<url><!-- draft, loc pending --></url></urlset>' AS xml
           | FROM e0 GROUP BY src),
           |ent AS (SELECT src,
           |  unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS e,
           |  CAST(len(list_filter(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1),
           |    x -> regexp_extract(x, '<loc>([^<]*)</loc>', 1) <> '')) AS INT) AS n_entries,
           |  CAST(len(list_filter(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1),
           |    x -> regexp_extract(x, '<loc>([^<]*)</loc>', 1) = '')) AS INT) AS n_skipped
           | FROM sm),
           |p AS (SELECT src, regexp_extract(e, '<loc>([^<]*)</loc>', 1) AS loc,
           |  e, n_entries, n_skipped
           | FROM ent WHERE regexp_extract(e, '<loc>([^<]*)</loc>', 1) <> '')
           |SELECT CAST(regexp_extract(loc, 'page-([0-9]+)$$', 1) AS BIGINT) AS doc_id,
           | src,
           | regexp_replace(regexp_replace(regexp_extract(loc, '${Url.Auth}', 1),
           |   ':[0-9]+$$', ''), '^www\\.', '') AS host,
           | loc,
           | nullif(regexp_extract(e, '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod,
           | CAST(nullif(regexp_extract(e, '<priority>([^<]*)</priority>', 1), '') AS DOUBLE) AS priority,
           | n_entries, n_skipped
           |FROM p ORDER BY doc_id""".stripMargin))
  }

  /** WARC ingestion STREAMING twin: files staged batch-side (real
    * ingestion reads files, it does not build them) arrive as a live
    * stream; the offset-walking parse + response filter + URI/body
    * chains are stateless per-row work in append mode, so the drained
    * end state equals the batch `q_parse_warc` row-for-row and its
    * full recursive oracle applies verbatim. */
  private val qParseWarcStream = Q(
    "q_parse_warc_stream",
    (s, d) => streaming.CorpusStream.parseWarcOverFile(s, d)
      .orderBy("doc_id"),
    qParseWarc.oracle)

  /** MassiveText repetition filter APPLIED (not just measured): the
    * gopher lexical keep composed with dup/top n-gram cuts for n = 2, 3
    * into one verdict. The oracle re-derives all three aggregates and
    * the vacuous-pass semantics for docs too short to carry an n-gram. */
  private val qRepetitionFilter = Q(
    "q_repetition_filter",
    (s, d) => operators.Corpus.repetitionFilter(
      Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH tok AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
           |wf AS (SELECT doc_id, w, count(*) AS f, sum(length(w)) AS lsum
           |       FROM tok GROUP BY doc_id, w),
           |per AS (SELECT doc_id, sum(f) AS n_words, count(*) AS n_distinct,
           |               max(f) AS top_f, sum(lsum) AS charsum
           |        FROM wf GROUP BY doc_id),
           |gk AS (SELECT doc_id, CAST(CASE WHEN n_words >= 30
           |  AND round(charsum / CAST(n_words AS DOUBLE), 6) BETWEEN 3.0 AND 10.0
           |  AND round(n_distinct / CAST(n_words AS DOUBLE), 6) >= 0.4
           |  AND round(top_f / CAST(n_words AS DOUBLE), 6) <= 0.15
           |  THEN 1 ELSE 0 END AS INT) AS gopher_keep FROM per),
           |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
           |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1),
           |    i -> concat_ws(' ', w[i], w[i+1]))) AS g FROM w WHERE len(w) >= 2),
           |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
           |s2 AS (SELECT doc_id,
           |   round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6) AS dup_frac_2,
           |   round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_frac_2
           |  FROM c2 GROUP BY doc_id),
           |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-2),
           |    i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS g FROM w WHERE len(w) >= 3),
           |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
           |s3 AS (SELECT doc_id,
           |   round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6) AS dup_frac_3,
           |   round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_frac_3
           |  FROM c3 GROUP BY doc_id)
           |SELECT gk.doc_id, gopher_keep,
           | coalesce(dup_frac_2, 0.0) AS dup_frac_2,
           | coalesce(top_frac_2, 0.0) AS top_frac_2,
           | coalesce(dup_frac_3, 0.0) AS dup_frac_3,
           | coalesce(top_frac_3, 0.0) AS top_frac_3,
           | CAST(CASE WHEN gopher_keep = 1
           |   AND coalesce(dup_frac_2, 0.0) <= 0.08 AND coalesce(top_frac_2, 0.0) <= 0.06
           |   AND coalesce(dup_frac_3, 0.0) <= 0.05 AND coalesce(top_frac_3, 0.0) <= 0.05
           |  THEN 1 ELSE 0 END AS INT) AS keep
           |FROM gk LEFT JOIN s2 ON gk.doc_id = s2.doc_id
           |        LEFT JOIN s3 ON gk.doc_id = s3.doc_id
           |ORDER BY gk.doc_id""".stripMargin))

  /** Top-50 adjacent-token-pair frequencies — the BPE merge-candidate
    * table. Pair-vocabulary-bounded hash agg + TakeOrderedAndProject;
    * ties break on pair text so the cutoff is engine-stable. */
  private val qBpePairs = Q(
    "q_bpe_pairs",
    (s, d) => operators.Corpus.bpePairs(Tables.documents(s, d), "text", k = 50),
    Some("""WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
           |g AS (SELECT unnest(list_transform(generate_series(1, len(w)-1),
           |   i -> concat_ws(' ', w[i], w[i+1]))) AS pair FROM w WHERE len(w) >= 2)
           |SELECT pair, count(*) AS n FROM g GROUP BY pair
           |ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin))

  /** CCNet-style normalization + canonical digest (the dedup key form).
    * Pure scan-side string expressions; oracle re-derives the full
    * normalized text and its md5. */
  private val qNormalizeText = Q(
    "q_normalize_text",
    (s, d) => operators.Corpus.normalizeText(Tables.documents(s, d), "doc_id", "text"),
    Some("""WITH n AS (SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
           |       '\s+', ' ', 'g')) AS norm_text
           | FROM documents)
           |SELECT doc_id, norm_text,
           | CAST(CASE WHEN norm_text = '' THEN 0
           |      ELSE len(string_split(norm_text, ' ')) END AS INT) AS n_tokens,
           | md5(norm_text) AS norm_digest
           |FROM n ORDER BY doc_id""".stripMargin))

  /** Per-source dataset-card profile: one hash agg keyed by source;
    * exact percentiles for the oracle (`percentile_approx` is the
    * production swap, same trade as q_ae_threshold). */
  private val qCorpusProfile = Q(
    "q_corpus_profile",
    (s, d) => operators.Corpus.corpusProfile(Tables.documents(s, d), "text", "source"),
    Some("""WITH n AS (SELECT source,
           |  CAST(CASE WHEN coalesce(trim(text), '') = '' THEN 0
           |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT) AS n_tokens,
           |  CAST(length(text) AS BIGINT) AS n_chars FROM documents)
           |SELECT source, CAST(count(*) AS INT) AS n_docs,
           | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           | round(avg(n_tokens), 6) AS avg_tokens,
           | round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
           | round(quantile_cont(n_tokens, 0.95), 6) AS p95_tokens,
           | round(avg(n_chars), 6) AS avg_chars
           |FROM n GROUP BY source ORDER BY source""".stripMargin))

  /** Bloom-filter decontamination (the too-big-to-broadcast-exactly
    * scale twin of `q_decontaminate`, same bench/eval split). No SQL
    * oracle — DuckDB has no compatible Bloom sketch; correctness is
    * pinned by CorpusSpec instead: zero false negatives vs the exact
    * join (superset row-for-row) and an fpp-bounded false-positive
    * count. */
  private val qDecontaminateBloom = Q(
    "q_decontaminate_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      operators.Corpus.decontaminateBloom(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", k = 8)
    },
    None)

  /** The STREAMING serve half of Bloom decontamination, drained to its
    * end state: same benchmark/corpus split as `q_decontaminate_bloom`,
    * probe running stateless in append mode over the documents stream.
    * Rows-only for the same reason as the batch bloom query (DuckDB
    * has no compatible sketch); StreamingSpec pins row-for-row batch
    * parity and q_decontaminate_containment pins the no-false-negative
    * invariant of the shared sketch. */
  private val qDecontaminateStream = Q(
    "q_decontaminate_stream",
    (s, d) => streaming.CorpusStream.decontaminatedOverFile(s, d, k = 8)
      .orderBy("doc_id"),
    None)

  /** The Bloom-decontamination CONTAINMENT invariant as a declared,
    * hash-checkable query: docs flagged by the exact broadcast join
    * but NOT by the Bloom sketch — Bloom filters have no false
    * negatives, so this set is provably empty. The Spark side
    * genuinely computes `exact_flagged EXCEPT bloom_flagged`; the
    * oracle is the empty relation of the same schema, so the driver's
    * rows/schema/hash compare pins the zero-false-negative guarantee
    * (the relation CorpusSpec checks row-for-row, now also under the
    * driver's independent gate). */
  private val qDecontaminateContainment = Q(
    "q_decontaminate_containment",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val exact = operators.Corpus.decontaminate(corpus, bench, "doc_id", "text", k = 8)
        .filter(col("contaminated") === 1).select("doc_id")
      val bloom = operators.Corpus.decontaminateBloom(corpus, bench, "doc_id", "text", k = 8)
        .filter(col("contaminated") === 1).select("doc_id")
      exact.except(bloom).orderBy("doc_id")
    },
    Some("SELECT CAST(NULL AS BIGINT) AS doc_id WHERE false"))

  /** Fuzzy (edit-distance) decontamination: canonical 32-char prefixes
    * under a Levenshtein budget of 5 — catches lightly-paraphrased /
    * OCR-mangled benchmark leakage that exact, Bloom and containment
    * all miss. Benchmark = doc_id % 10 == 0 (the `q_decontaminate`
    * split). Canonicalization strips non-ASCII, so the distance is
    * engine-portable; the oracle re-derives the normalization, the
    * length band, the DP distance, and the per-doc rollup. Both flag
    * values and real nonzero distances occur at every tested SF. */
  private val fuzzyOracleSql = {
    val (dist, p) = (5, 32)
    s"""WITH n AS (SELECT doc_id,
           |  substr(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
           |         '\\s+', ' ', 'g')), 1, $p) AS key FROM documents),
           |b AS (SELECT DISTINCT key AS b_key FROM n WHERE doc_id % 10 = 0),
           |c AS (SELECT doc_id, key AS c_key FROM n WHERE doc_id % 10 <> 0),
           |hits AS (SELECT doc_id, CAST(count(*) AS INT) AS n_matches,
           |                CAST(min(levenshtein(c_key, b_key)) AS INT) AS min_dist
           |         FROM c JOIN b ON abs(length(c_key) - length(b_key)) <= $dist
           |                      AND levenshtein(c_key, b_key) <= $dist
           |         GROUP BY doc_id)
           |SELECT c.doc_id, CAST(coalesce(n_matches, 0) AS INT) AS n_matches, min_dist,
           | CAST(CASE WHEN n_matches IS NOT NULL THEN 1 ELSE 0 END AS INT) AS contaminated
           |FROM c LEFT JOIN hits ON c.doc_id = hits.doc_id
           |ORDER BY c.doc_id""".stripMargin
  }

  private val qDecontaminateFuzzy = Q(
    "q_decontaminate_fuzzy",
    (s, d) => {
      val docs = Tables.documents(s, d)
      operators.Corpus.decontaminateFuzzy(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", maxDist = 5, prefixChars = 32)
    },
    Some(fuzzyOracleSql))

  /** The streaming fuzzy-decontamination twin drained to its end
    * state: batch-side key fit + the row-local HOF serve over the
    * documents feed (stateless append — no watermark needed), so the
    * batch oracle applies verbatim modulo sort. */
  private val qDecontaminateFuzzyStream = Q(
    "q_decontaminate_fuzzy_stream",
    (s, d) => streaming.CorpusStream.fuzzyDecontaminatedOverFile(s, d)
      .orderBy("doc_id"),
    Some(fuzzyOracleSql))

  /** PMI collocations ("new york" phrase discovery): pair + unigram
    * aggs, PMI re-derived by the oracle with the identical expression
    * shape; minCount = 5, top-50 with text tie-break. */
  private val qCollocations = Q(
    "q_collocations",
    (s, d) => operators.Corpus.collocations(Tables.documents(s, d), "text",
      minCount = 5, k = 50),
    Some("""WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
           |p AS (SELECT unnest(list_transform(generate_series(1, len(w)-1),
           |   i -> concat_ws(' ', w[i], w[i+1]))) AS pair FROM w WHERE len(w) >= 2),
           |sp AS (SELECT string_split(pair, ' ')[1] AS w1,
           |              string_split(pair, ' ')[2] AS w2 FROM p),
           |pc AS (SELECT w1, w2, count(*) AS n_ab FROM sp GROUP BY w1, w2),
           |tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS wd FROM documents),
           |wc AS (SELECT wd, count(*) AS n_w FROM tok GROUP BY wd),
           |t1 AS (SELECT sum(n_w) AS n1 FROM wc),
           |t2 AS (SELECT sum(n_ab) AS n2 FROM pc)
           |SELECT w1, w2, n_ab,
           | round(ln((CAST(n_ab AS DOUBLE) / CAST(n2 AS DOUBLE))
           |   / ((CAST(a.n_w AS DOUBLE) / CAST(n1 AS DOUBLE))
           |    * (CAST(b.n_w AS DOUBLE) / CAST(n1 AS DOUBLE)))), 6) AS pmi
           |FROM pc JOIN wc a ON pc.w1 = a.wd JOIN wc b ON pc.w2 = b.wd, t1, t2
           |WHERE n_ab >= 5
           |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50""".stripMargin))

  /** Efraimidis–Spirakis weighted sample (weight = token count): the
    * deterministic md5 coin parsed numerically, key = ln(u)/w, top-100.
    * The oracle re-derives u, the key and the cutoff. */
  private val qWeightedSample = Q(
    "q_weighted_sample",
    (s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      operators.Corpus.weightedSample(docs, "doc_id", "n_tokens", k = 100)
    },
    Some("""WITH d AS (SELECT doc_id,
           |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS w
           | FROM documents)
           |SELECT doc_id, round(w, 6) AS weight,
           | round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
           |       / 4294967296.0) / w, 6) AS es_key
           |FROM d WHERE w > 0
           |ORDER BY es_key DESC, doc_id ASC LIMIT 100""".stripMargin))

  /** DSIR-style importance resampling (Xie et al. 2023): select the
    * k raw-pool docs most target-like under the target/raw unigram-LM
    * log-likelihood ratio, drawn without replacement via deterministic
    * Gumbel-top-k. Target domain = src0; pool = everything else. Both
    * LM fits, the per-token ratio, the md5-coin Gumbel transform and
    * the cut are all re-derived by the oracle. */
  private val qDsirSelect = Q(
    "q_dsir_select",
    (s, d) => {
      val docs = Tables.documents(s, d)
      operators.Corpus.dsirSelect(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", k = 100)
    },
    Some("""WITH ttok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |              FROM documents WHERE source = 'src0'),
           |ft AS (SELECT w, count(*) AS wt FROM ttok GROUP BY w),
           |st AS (SELECT sum(wt) AS n_t, count(*) AS v_t FROM ft),
           |rtok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |         FROM documents WHERE source != 'src0'),
           |fr AS (SELECT w, count(*) AS wr FROM rtok GROUP BY w),
           |sr AS (SELECT sum(wr) AS n_r, count(*) AS v_r FROM fr),
           |lp AS (SELECT doc_id,
           |    ln((coalesce(ft.wt, 0) + 1) / CAST(st.n_t + st.v_t + 1 AS DOUBLE))
           |  - ln((coalesce(fr.wr, 0) + 1) / CAST(sr.n_r + sr.v_r + 1 AS DOUBLE)) AS llr
           |  FROM rtok LEFT JOIN ft USING (w) LEFT JOIN fr USING (w), st, sr),
           |per AS (SELECT doc_id, CAST(count(*) AS INT) AS n_tokens, avg(llr) AS lir
           |        FROM lp GROUP BY doc_id)
           |SELECT doc_id, n_tokens, round(lir, 6) AS importance,
           |  round(lir - ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
           |        / 4294967297.0)), 6) AS gumbel_key
           |FROM per
           |ORDER BY gumbel_key DESC, doc_id ASC LIMIT 100""".stripMargin))

  /** Trained model-based quality filter: Bernoulli Naive Bayes over
    * md5-hashed token-presence features (4096 buckets), fit on
    * lang = 'en' (positive) vs everything else, serving the whole
    * corpus. Closed-form fit ⇒ the document frequencies, Laplace
    * probabilities, presence/absence weights, class prior and the
    * per-doc score all re-derive in SQL; both keep values occur at
    * every tested SF (scores span roughly −1.9 .. +1.6). */
  private val nbOracleSql = {
    val buckets = 4096
    s"""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           |           FROM documents),
           |f AS (SELECT DISTINCT doc_id,
           |        CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % $buckets AS f FROM t),
           |pos AS (SELECT doc_id FROM documents WHERE lang = 'en'),
           |neg AS (SELECT doc_id FROM documents WHERE lang <> 'en'),
           |np AS (SELECT count(*) AS n_pos FROM pos),
           |nn AS (SELECT count(*) AS n_neg FROM neg),
           |dfp AS (SELECT f.f, count(*) AS dfp FROM f JOIN pos USING (doc_id) GROUP BY f.f),
           |dfn AS (SELECT f.f, count(*) AS dfn FROM f JOIN neg USING (doc_id) GROUP BY f.f),
           |model AS (SELECT coalesce(dfp.f, dfn.f) AS f,
           |    (coalesce(dfp, 0) + 1) / CAST(n_pos + 2 AS DOUBLE) AS pp,
           |    (coalesce(dfn, 0) + 1) / CAST(n_neg + 2 AS DOUBLE) AS pn
           |  FROM dfp FULL OUTER JOIN dfn ON dfp.f = dfn.f, np, nn),
           |mw AS (SELECT f, ln(pp) - ln(1.0 - pp) - ln(pn) + ln(1.0 - pn) AS w_present,
           |              ln(1.0 - pp) - ln(1.0 - pn) AS w_absent FROM model),
           |base AS (SELECT sum(w_absent) AS base FROM mw),
           |prior AS (SELECT ln(CAST(n_pos AS DOUBLE)) - ln(CAST(n_neg AS DOUBLE)) AS prior
           |          FROM np, nn),
           |per AS (SELECT doc_id, CAST(count(*) AS INT) AS n_features,
           |               sum(coalesce(w_present, 0.0)) AS s
           |        FROM f LEFT JOIN mw USING (f) GROUP BY doc_id)
           |SELECT doc_id, n_features, round(prior + base + s, 6) AS score,
           | CAST(CASE WHEN round(prior + base + s, 6) > 0 THEN 1 ELSE 0 END AS INT) AS keep
           |FROM per, base, prior ORDER BY doc_id""".stripMargin
  }

  private val qQualityClassifier = Q(
    "q_quality_classifier",
    (s, d) => {
      val docs = Tables.documents(s, d)
      operators.Corpus.nbQualityScore(
        docs,
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"),
        "doc_id", "text", nBuckets = 4096)
    },
    Some(nbOracleSql))

  /** The streaming quality-classifier twin drained to its end state:
    * batch-side NB fit (constant-size model) + the row-local
    * weight-array fold over the documents feed (stateless append), so
    * the batch oracle applies verbatim modulo sort. */
  private val qQualityClassifierStream = Q(
    "q_quality_classifier_stream",
    (s, d) => streaming.CorpusStream.nbScoredOverFile(s, d)
      .orderBy("doc_id"),
    Some(nbOracleSql))

  /** Per-source percent-rank of document length — the per-domain score
    * normalization move (quality scores are only comparable within a
    * domain; CCNet buckets per-snapshot for the same reason). One
    * shuffle keyed by source, rank within partition. */
  private val qQualityRank = Q(
    "q_quality_rank",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d).select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("int").as("n_tokens"))
        .withColumn("pct_rank", round(percent_rank().over(
          Window.partitionBy("source").orderBy("n_tokens")), 6))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source, n_tokens,
           | round(percent_rank() OVER (PARTITION BY source ORDER BY n_tokens), 6) AS pct_rank
           |FROM (SELECT doc_id, source,
           |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens
           | FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Per-label embedding centroids (class prototypes), exploded to
    * (label, dim_idx, centroid) scalars — the ml_preproc output
    * convention. One hash agg keyed by (label, dim). */
  private val qEmbedCentroid = Q(
    "q_embed_centroid",
    (s, d) => operators.Embeddings.centroids(
      Tables.embeddings(s, d), "label", "embedding")
      .withColumnRenamed("grp", "label"),
    Some("""WITH e AS (SELECT label, unnest(embedding) AS v,
           |  generate_subscripts(embedding, 1) AS i FROM embeddings)
           |SELECT label, CAST(i - 1 AS INT) AS dim_idx,
           | round(avg(CAST(v AS DOUBLE)), 6) AS centroid,
           | CAST(count(*) AS INT) AS n_vectors
           |FROM e GROUP BY label, i ORDER BY label, dim_idx""".stripMargin))

  /** BPE/word2phrase merge training (8 rounds) — a model-training op
    * like ml_*: building the frame runs the loop (per round: one
    * pair-vocab-bounded agg, a 1-row driver argmax, a scan-side
    * rewrite). No SQL oracle — single SQL statements cannot iterate
    * argmax+rewrite (and RE2 lacks the boundary lookarounds the
    * rewrite needs); CorpusSpec pins hand-checked merges instead. */
  private val qBpeTrain = Q(
    "q_bpe_train",
    (s, d) => operators.Corpus.bpeTrain(Tables.documents(s, d), "text", nMerges = 8),
    None)

  /** Diversified top-k retrieval: cosine top-10 with ≤2 results per
    * unit-normalized grid cell (the relational quota form of MMR; IVF
    * cells are the production swap). Cells, cosine, both rank windows
    * and the quota all re-derived by the oracle. */
  private val qSimDiverse = {
    def cos(av: String, bv: String) =
      s"""round(CASE WHEN sqrt(list_sum(list_transform(list_zip($av, $av), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
         |           * sqrt(list_sum(list_transform(list_zip($bv, $bv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) > 0
         |        THEN list_sum(list_transform(list_zip($av, $bv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |           / (sqrt(list_sum(list_transform(list_zip($av, $av), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))
         |            * sqrt(list_sum(list_transform(list_zip($bv, $bv), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))))
         |        ELSE 0.0 END, 6)""".stripMargin
    Q(
      "q_sim_diverse",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        operators.Embeddings.topkDiverse(e, e.filter(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", "embedding",
          k = 10, perCell = 2, gridDims = 2, gridSize = 0.25)
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
           |v AS (SELECT vec_id AS neighbor_id, embedding,
           |   sqrt(list_sum(list_transform(list_zip(embedding, embedding),
           |     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS nrm
           |  FROM embeddings),
           |c AS (SELECT query_id, neighbor_id,
           |   concat_ws(',', CAST(floor(CAST(v.embedding[1] AS DOUBLE) / nrm / 0.25) AS BIGINT),
           |                  CAST(floor(CAST(v.embedding[2] AS DOUBLE) / nrm / 0.25) AS BIGINT)) AS cell,
           |   ${cos("qv", "v.embedding")} AS cos
           | FROM v, q WHERE v.neighbor_id <> q.query_id AND nrm > 0),
           |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id, cell
           |        ORDER BY cos DESC, neighbor_id ASC) AS INT) AS cell_rank FROM c),
           |g AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |        ORDER BY cos DESC, neighbor_id ASC) AS rn
           |      FROM r WHERE cell_rank <= 2)
           |SELECT query_id, neighbor_id, cell, cos, cell_rank
           |FROM g WHERE rn <= 10 ORDER BY query_id, neighbor_id""".stripMargin))
  }

  /** Corpus snapshot diff (incremental-refresh audit): v1 drops
    * doc_id%10=7, v2 drops %10=3 and rewrites %10=1 — both versions
    * derived deterministically on both engines; the full outer
    * digest-join classifies every id. */
  private val qCorpusDiff = Q(
    "q_corpus_diff",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val prev = docs.filter(col("doc_id") % 10 =!= 7)
      val cur = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text", when(col("doc_id") % 10 === 1,
          concat(col("text"), lit(" updated"))).otherwise(col("text")))
      operators.Corpus.corpusDiff(prev, cur, "doc_id", "text")
    },
    Some("""WITH prev AS (SELECT doc_id, md5(text) AS digest_prev
           |  FROM documents WHERE doc_id % 10 <> 7),
           |cur AS (SELECT doc_id,
           |  md5(CASE WHEN doc_id % 10 = 1 THEN text || ' updated' ELSE text END) AS digest_cur
           |  FROM documents WHERE doc_id % 10 <> 3)
           |SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id, digest_prev, digest_cur,
           | CASE WHEN digest_prev IS NULL THEN 'added'
           |      WHEN digest_cur IS NULL THEN 'removed'
           |      WHEN digest_prev = digest_cur THEN 'unchanged'
           |      ELSE 'changed' END AS status
           |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
           |ORDER BY doc_id""".stripMargin))

  /** Minhash-LSH recall harness on a CONSTANT-SIZE evaluation slice
    * (doc_id < 500, %2 = 0 — carries real near-dup pairs at every SF
    * so the confusion matrix is non-trivial, and stays 250 docs no
    * matter how large the corpus grows: the exact side is O(slice²),
    * which must never scale with the table). The oracle re-derives the
    * exact all-pairs Jaccard set, the full LSH pipeline AND the
    * confusion counts — recall is the tuning number, n_false must be
    * 0 (candidates are exact-verified). */
  private val qDedupEval = {
    val (nh, bands, thr) = (16, 8, 0.1)
    Q(
      "q_dedup_eval",
      (s, d) => operators.Dedup.minhashEval(
        Tables.documents(s, d)
          .filter(col("doc_id") % 2 === 0 && col("doc_id") < 500),
        "doc_id", "text", numHashes = nh, bands = bands, threshold = thr),
      Some(s"""WITH ${minhashMd5PairCtes(nh, bands, thr,
                docWhere = "WHERE doc_id % 2 = 0 AND doc_id < 500")},
           |exact AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b
           |  FROM sets sa JOIN sets sb ON sa.doc_id < sb.doc_id
           |  WHERE round(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
           |      / (CAST(len(sa.ss) + len(sb.ss) AS DOUBLE)
           |         - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)), 6) >= $thr),
           |m AS (SELECT
           |  (SELECT count(*) FROM exact) AS n_exact,
           |  (SELECT count(*) FROM exact e JOIN pairs p
           |     ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b) AS n_found,
           |  (SELECT count(*) FROM exact e LEFT JOIN pairs p
           |     ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b WHERE p.doc_a IS NULL) AS n_missed,
           |  (SELECT count(*) FROM pairs p LEFT JOIN exact e
           |     ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b WHERE e.doc_a IS NULL) AS n_false)
           |SELECT CAST(n_exact AS INT) AS n_exact, CAST(n_found AS INT) AS n_found,
           | CAST(n_missed AS INT) AS n_missed, CAST(n_false AS INT) AS n_false,
           | CASE WHEN n_exact = 0 THEN 1.0
           |      ELSE round(CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) END AS recall
           |FROM m""".stripMargin))
  }

  /** HLL++ sketch twin of the domain rollup — constant-size mergeable
    * partials instead of the exact two-phase distinct. Rows-only
    * (DuckDB's sketch differs); CorpusSpec bounds the relative error. */
  private val qDomainApprox = Q(
    "q_domain_approx",
    (s, d) => operators.Corpus.domainStatsApprox(
      Tables.documents(s, d), "doc_id", "text", "source"),
    None)

  /** Trained multiclass lang-ID (FULL oracle): multinomial NB over
    * md5-hashed char-trigram counts — per-class Laplace log-likelihood
    * + log-prior, argmax on the ROUNDED score with (score desc, lang
    * asc) tie-break (rounding before ranking makes the argmax
    * engine-portable). The oracle re-derives trigrams, buckets, both
    * model aggregates, the smoothing, the per-doc per-class scores
    * and the argmax. `q_lang_id` stays the zero-training heuristic;
    * this is the trained production path (fastText/CCNet shape).
    * Train accuracy on the DRIVER corpus is ~0.49 vs a 0.44 majority
    * baseline BY CONSTRUCTION: the synthetic `lang` labels are
    * uncorrelated with the (uniformly English-ish) text, so no
    * classifier can separate them — the oracle proves the algebra;
    * CorpusSpec plants genuinely separable languages and pins
    * perfect recovery there. */
  private val qLangClassifier = {
    val nb = 1024
    Q(
      "q_lang_classifier",
      (s, d) => operators.Corpus.langClassify(
        Tables.documents(s, d), "doc_id", "text", "lang", nBuckets = nb),
      Some(s"""WITH t AS (SELECT doc_id, lang AS true_lang, lower(trim(text)) AS t FROM documents),
           |gr AS (SELECT doc_id, true_lang,
           |  unnest(list_transform(generate_series(1, greatest(len(t)-2, 0)),
           |    i -> substr(t, i, 3))) AS gram FROM t),
           |g AS (SELECT doc_id, true_lang,
           |  ('0x' || substr(md5(gram), 1, 8))::BIGINT % $nb AS b FROM gr),
           |db AS (SELECT doc_id, b, count(*) AS cnt FROM g GROUP BY doc_id, b),
           |mb AS (SELECT true_lang AS lang, b, count(*) AS c FROM g GROUP BY true_lang, b),
           |tot AS (SELECT lang, sum(c) AS tot FROM mb GROUP BY lang),
           |nd AS (SELECT lang AS lang, count(*) AS nd FROM documents GROUP BY lang),
           |n AS (SELECT count(*) AS n FROM documents),
           |scored AS (SELECT db.doc_id, tot.lang,
           |   sum(db.cnt * ln((coalesce(mb.c, 0) + 1) / CAST(tot.tot + $nb AS DOUBLE))) AS ll
           |  FROM db CROSS JOIN tot
           |  LEFT JOIN mb ON mb.lang = tot.lang AND mb.b = db.b
           |  GROUP BY db.doc_id, tot.lang, tot.tot),
           |wp AS (SELECT s.doc_id, s.lang,
           |   round(ln(CAST(nd.nd AS DOUBLE) / n.n) + s.ll, 6) AS lang_score
           |  FROM scored s JOIN nd ON nd.lang = s.lang CROSS JOIN n),
           |best AS (SELECT doc_id, lang, lang_score,
           |   row_number() OVER (PARTITION BY doc_id
           |     ORDER BY lang_score DESC, lang ASC) AS rn FROM wp)
           |SELECT b.doc_id, b.lang AS pred_lang, b.lang_score,
           | CAST(CASE WHEN b.lang = t.true_lang THEN 1 ELSE 0 END AS INT) AS correct
           |FROM best b JOIN t ON t.doc_id = b.doc_id
           |WHERE b.rn = 1 ORDER BY b.doc_id""".stripMargin))
  }

  /** The trained lang-ID's STREAMING twin — a live document feed
    * classified by the row-local native scorer against the batch-fitted
    * model (stateless append); drained end state ≡ the declared
    * relational query, so its full oracle applies verbatim. */
  private val qLangClassifierStream = Q(
    "q_lang_classifier_stream",
    (s, d) => streaming.CorpusStream.langClassifiedOverFile(s, d, nBuckets = 1024)
      .orderBy("doc_id"),
    qLangClassifier.oracle)

  /** KMV bottom-k twin of `q_domain_approx` (FULL oracle): the
    * estimator n̂ = (k−1)/v_(k) over the k smallest md5-derived hash
    * fractions per source — md5 makes fractions, ranking, the k-th
    * value and the estimate DuckDB-re-derivable, pinning the
    * approximate-distinct algebra the way the md5 twins pinned
    * minhash/simhash (HLL stays the production sketch). k=16 so the
    * estimator genuinely estimates on this corpus (sources hold ~25
    * distinct docs at sf0.01; a larger k would snap every source into
    * the exact small-set case and prove nothing). */
  private val qDomainApproxKmv = {
    val k = 16
    Q(
      "q_domain_approx_kmv",
      (s, d) => operators.Corpus.domainStatsKmv(
        Tables.documents(s, d), "doc_id", "text", "source", k = k),
      Some(s"""WITH h AS (SELECT source, md5(text) AS digest FROM documents),
           |cnt AS (SELECT source, count(*) AS n_docs FROM h GROUP BY source),
           |dv AS (SELECT source, digest,
           |  CAST(('0x' || substr(digest, 1, 13))::UBIGINT AS DOUBLE) / power(16, 13) AS v
           | FROM (SELECT DISTINCT source, digest FROM h)),
           |rk AS (SELECT source, v,
           |  row_number() OVER (PARTITION BY source ORDER BY v, digest) AS rn
           | FROM dv),
           |est AS (SELECT source, count(*) AS n_seen,
           |  max(CASE WHEN rn = $k THEN v END) AS kth
           | FROM rk WHERE rn <= $k GROUP BY source)
           |SELECT e.source, c.n_docs,
           | round(CASE WHEN e.n_seen < $k THEN CAST(e.n_seen AS DOUBLE)
           |       ELSE ${k - 1}.0 / e.kth END, 6) AS n_unique_kmv
           |FROM est e JOIN cnt c ON e.source = c.source
           |ORDER BY e.source""".stripMargin))
  }

  /** BPE merge APPLY (the serve half of `q_bpe_train`): a fixed 3-merge
    * table — the third merge chains onto the first's output — rewritten
    * with the engine-portable double-space plain-replace (exact
    * left-to-right non-overlap, no regex lookaround needed), so the
    * oracle re-derives the entire rewrite including chaining. */
  private val qBpeApply = {
    val merges = Seq(
      "batch batch" -> "batch_batch",
      "window window" -> "window_window",
      "batch_batch batch" -> "batch_batch_batch")
    val nested = merges.foldLeft("t0") { case (acc, (p, m)) =>
      val Array(a, b) = p.split(" ", 2)
      s"replace($acc, ' $a  $b ', ' $m ')"
    }
    Q(
      "q_bpe_apply",
      (s, d) => operators.Corpus.bpeApply(
        Tables.documents(s, d), "doc_id", "text", merges),
      Some(s"""WITH t AS (SELECT doc_id,
           |  ' ' || regexp_replace(trim(text), '\\s+', '  ', 'g') || ' ' AS t0
           | FROM documents),
           |o AS (SELECT doc_id,
           |  trim(regexp_replace($nested, '\\s+', ' ', 'g')) AS bpe_text FROM t)
           |SELECT doc_id, bpe_text,
           | CAST(CASE WHEN bpe_text = '' THEN 0
           |      ELSE len(string_split(bpe_text, ' ')) END AS INT) AS n_tokens
           |FROM o ORDER BY doc_id""".stripMargin))
  }

  /** Canonical-form dedup — CCNet's actual dedup move (normalize, then
    * first-occurrence keep on the NORMALIZED digest, so case/punct/
    * spacing variants of the same page collapse): `normalizeText` →
    * min-doc_id per norm_digest → survivors with their canonical form.
    * One scan-side normalization + one digest-keyed hash agg + a
    * semi-join — the q_dedup_exact shape upgraded to canonical keys. */
  private val qCanonicalDedup = Q(
    "q_canonical_dedup",
    (s, d) => {
      val n = operators.Corpus.normalizeText(Tables.documents(s, d), "doc_id", "text")
      val keep = n.groupBy("norm_digest").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      n.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("norm_digest"), col("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""WITH n AS (SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
           |       '\s+', ' ', 'g')) AS norm_text
           | FROM documents),
           |m AS (SELECT doc_id, md5(norm_text) AS norm_digest,
           |  CAST(CASE WHEN norm_text = '' THEN 0
           |       ELSE len(string_split(norm_text, ' ')) END AS INT) AS n_tokens
           | FROM n),
           |keep AS (SELECT min(doc_id) AS doc_id FROM m GROUP BY norm_digest)
           |SELECT m.doc_id, norm_digest, n_tokens
           |FROM m JOIN keep ON m.doc_id = keep.doc_id
           |ORDER BY m.doc_id""".stripMargin))

  /** The streaming span-dedup twin drained to its end state — the same
    * driver-gated proof `q_score_stream` gives the scoring stream: the
    * batch span-dedup oracle applies verbatim because the runner's
    * ordered single-partition feed makes arrival order the batch
    * (doc_id, span_idx) rule. Per-doc 1 s windows + 0 s watermark ⇒
    * every doc's window closes except the one holding max(doc_id)
    * (its end is past the final watermark), so the oracle excludes
    * exactly that doc; keep decisions still range over ALL docs
    * (safe — the excluded doc arrives last and can't claim a span). */
  private val qSpanDedupStream = {
    val k = 5
    Q(
      "q_span_dedup_stream",
      (s, d) => streaming.CorpusStream.spanDedupOverFile(s, d, spanLen = k)
        .orderBy("doc_id"),
      Some(s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |sp AS (SELECT doc_id, unnest(generate_series(1, (len(w)+${k - 1})//$k)) AS span_idx, w FROM w),
           |spans AS (SELECT doc_id, CAST(span_idx AS INT) AS span_idx,
           |  array_to_string(list_slice(w, (span_idx-1)*$k+1, span_idx*$k), ' ') AS span FROM sp),
           |k AS (SELECT doc_id, span_idx, span,
           |  row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn FROM spans)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
           | CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
           | coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '') AS dedup_text
           |FROM k WHERE doc_id < (SELECT max(doc_id) FROM documents)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  }

  /** The streaming exact repeated-substring twin drained to its end
    * state — the batch `q_dedup_substrings` oracle with the same
    * last-doc exclusion as `q_span_dedup_stream` (open final window).
    * Cut decisions range over all docs; the excluded last arrival can
    * only have its own windows cut, never cut an emitted doc's. */
  private val qDedupSubstringsStream = {
    val L = 20
    Q(
      "q_dedup_substrings_stream",
      (s, d) => streaming.CorpusStream.substringsDedupOverFile(s, d, gramLen = L)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
           |tok AS (SELECT doc_id, CAST(p AS INT)-1 AS tpos, w[CAST(p AS INT)] AS tok
           |        FROM t, unnest(generate_series(1, len(w))) AS u(p)),
           |grams AS (SELECT doc_id, CAST(p AS INT)-1 AS pos,
           |          array_to_string(list_slice(w, CAST(p AS INT), CAST(p AS INT)+$L-1), ' ') AS gram
           |          FROM t, unnest(generate_series(1, len(w)-$L+1)) AS u(p)
           |          WHERE len(w) >= $L),
           |k AS (SELECT doc_id, pos,
           |        count(*) OVER (PARTITION BY gram) AS cnt,
           |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
           |      FROM grams),
           |masked AS (SELECT doc_id, pos, pos + $L AS cut_end FROM k WHERE cnt > 1 AND rn > 1),
           |m AS (SELECT tok.doc_id, tok.tpos, tok.tok,
           |        max(masked.cut_end)
           |          OVER (PARTITION BY tok.doc_id ORDER BY tok.tpos
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mask_end
           |      FROM tok LEFT JOIN masked
           |        ON tok.doc_id = masked.doc_id AND tok.tpos = masked.pos)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
           |  CAST(sum(CASE WHEN mask_end IS NOT NULL AND mask_end > tpos THEN 1 ELSE 0 END) AS INT) AS n_cut,
           |  coalesce(string_agg(CASE WHEN mask_end IS NULL OR mask_end <= tpos THEN tok END, ' ' ORDER BY tpos), '') AS dedup_text
           |FROM m WHERE doc_id < (SELECT max(doc_id) FROM documents)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  }

  /** The streaming canonical-form dedup twin drained to its end state.
    * Emission is immediate (no window agg), so no doc is excluded; the
    * kept set is the batch rule (min doc_id per normalized digest) by
    * the runner's ordered feed. */
  private val qCanonicalDedupStream = Q(
    "q_canonical_dedup_stream",
    (s, d) => streaming.CorpusStream.canonicalDedupOverFile(s, d)
      .orderBy("doc_id"),
    Some("""WITH n AS (SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
           |       '\s+', ' ', 'g')) AS norm_text
           | FROM documents),
           |keep AS (SELECT min(doc_id) AS doc_id FROM n GROUP BY md5(norm_text))
           |SELECT d.doc_id, d.source, d.n_chars
           |FROM documents d JOIN keep ON d.doc_id = keep.doc_id
           |ORDER BY d.doc_id""".stripMargin))

  /** The streaming SimHash dedup twin drained to its end state.
    * Rows-only: the FNV-based codegen signature is not
    * SQL-recomputable (the portable-md5 batch twin `dedup_simhash_md5`
    * oracle-pins the signature semantics); StreamingSpec pins the
    * cross-batch collision-drop behavior. */
  private val qSimhashDedupStream = Q(
    "q_simhash_dedup_stream",
    (s, d) => streaming.CorpusStream.simhashDedupOverFile(s, d)
      .orderBy("doc_id"),
    None)

  // =====================================================================
  // Link graph / retrieval / line dedup (round 13)
  // =====================================================================

  /** Shared oracle-SQL fragments for the link-graph family —
    * `q_link_graph`, its stream twin, `q_anchor_stats` and
    * `q_pagerank` re-derive the SAME generation + extraction +
    * resolution chain. Patterns are the RE2-safe
    * `LinkGraph.AnchorHref` / `Extract.Url` strings verbatim. */
  private object LinkSql {
    import operators.{Extract, LinkGraph}

    private val i = "CAST(doc_id AS VARCHAR)"
    private def m(k: Int) = s"CAST(doc_id % $k AS VARCHAR)"
    private val sch = "(CASE WHEN doc_id % 5 = 0 THEN 'http' ELSE 'https' END)"

    /** Page generation over a documents row — lockstep with
      * `LinkGraph.linkPageWrapped`. Produces `pg(doc_id, url, html)`.
      * (Concat `||`s sit at line ENDS: the consuming query templates
      * stripMargin AFTER interpolating this fragment, so no embedded
      * line may start with the margin char.) */
    val gen: String =
      s"""pg AS (SELECT doc_id,
         |  $sch || '://' || source || '.example.com/' || lang || '/a-' || $i AS url,
         |  '<html><body><h1>page ' || $i || '</h1>' ||
         |  '<a href="https://src' || CAST((doc_id * 7 + 3) % 13 AS VARCHAR) ||
         |  '.example.com/t/' || ${m(7)} || '" class="x">peer ' || ${m(7)} || '</a>' ||
         |  '<a href="/d/' || CAST((doc_id + 1) % 1000 AS VARCHAR) || '">next <b>doc</b> here</a>' ||
         |  '<a href="n-' || ${m(5)} || '.html">note ' || ${m(5)} || '</a>' ||
         |  '<a href="/f/' || ${m(6)} || '#sec">frag ' || ${m(6)} || '</a>' ||
         |  '<a href="#top">back to top</a>' ||
         |  '<a href="mailto:team@example.com">mail us</a>' ||
         |  '<a href="//cdn' || ${m(3)} || '.example.net/lib">cdn ' || ${m(3)} || '</a>' ||
         |  (CASE WHEN doc_id % 4 = 0 THEN '<a href="' || $sch || '://' || source ||
         |       '.example.com/self">self link</a>' ELSE '' END) ||
         |  '<a name="x">plain anchor</a></body></html>' AS html
         | FROM documents)""".stripMargin

    /** CTE chain from `pg` to `ln(doc_id, pos, href, url, src_host,
      * dst_host, internal, anchor_text)` — the DuckDB spelling of
      * `LinkGraph.linkEdges`, rule for rule. */
    val pgToLn: String =
      s"""ex AS (SELECT doc_id, url AS page_url,
         |  regexp_extract_all(html, '${LinkGraph.AnchorHref}', 1) AS hrefs,
         |  regexp_extract_all(html, '${LinkGraph.AnchorHref}', 2) AS texts
         | FROM pg),
         |lx AS (SELECT doc_id, page_url,
         |  unnest(generate_series(1, len(hrefs))) AS pos,
         |  unnest(hrefs) AS href, unnest(texts) AS txt FROM ex),
         |rb AS (SELECT doc_id, CAST(pos AS INT) AS pos, href, txt,
         |  regexp_extract(page_url, '${Extract.Url.Scheme}', 1) AS sch,
         |  regexp_extract(page_url, '${Extract.Url.Auth}', 1) AS auth,
         |  regexp_replace(regexp_extract(page_url, '${Extract.Url.Auth}', 1), ':[0-9]+$$', '') AS src_host,
         |  CASE WHEN regexp_replace(regexp_extract(page_url, '${Extract.Url.Path}', 1), '[^/]*$$', '') = ''
         |       THEN '/' ELSE regexp_replace(regexp_extract(page_url, '${Extract.Url.Path}', 1), '[^/]*$$', '') END AS dir
         | FROM lx),
         |rs AS (SELECT doc_id, pos, href, txt, src_host,
         |  CASE WHEN regexp_matches(href, '^https?://') THEN href
         |       WHEN regexp_matches(href, '${LinkGraph.HasScheme}') THEN NULL
         |       WHEN starts_with(href, '//') THEN sch || ':' || href
         |       WHEN starts_with(href, '/') THEN sch || '://' || auth || href
         |       WHEN starts_with(href, '#') OR href = '' THEN NULL
         |       ELSE sch || '://' || auth || dir || href END AS resolved
         | FROM rb),
         |l0 AS (SELECT doc_id, pos, href, src_host, txt,
         |  regexp_replace(resolved, '#.*$$', '') AS url
         | FROM rs WHERE resolved IS NOT NULL),
         |ln AS (SELECT doc_id, pos, href, url, src_host,
         |  regexp_replace(regexp_extract(url, '${Extract.Url.Auth}', 1), ':[0-9]+$$', '') AS dst_host,
         |  CAST(CASE WHEN regexp_replace(regexp_extract(url, '${Extract.Url.Auth}', 1), ':[0-9]+$$', '')
         |            = src_host THEN 1 ELSE 0 END AS INT) AS internal,
         |  trim(regexp_replace(regexp_replace(txt, '${Extract.Html.Tag}', ' ', 'g'), '\\s+', ' ', 'g')) AS anchor_text
         | FROM l0)""".stripMargin

    /** The integer-PageRank recurrence unrolled to `iters` steps over
      * the distinct inter-host edge set — the DuckDB spelling of
      * `LinkGraph.pageRankHosts` (SCALE = 10^12, damping 85/100, all
      * BIGINT `//` arithmetic, dangling mass dropped). */
    def pagerank(iters: Int): String = {
      val base = "(15 * (1000000000000 // (SELECT c FROM nn))) // 100"
      val steps = (1 to iters).map { it =>
        val prev = if (it == 1) "p0" else s"p${it - 1}"
        s"""m$it AS (SELECT e.dst AS host, CAST(sum(p.pr // o.deg) AS BIGINT) AS m
           |  FROM ed e JOIN $prev p ON p.host = e.src JOIN od o ON o.src = e.src
           |  GROUP BY e.dst),
           |p$it AS (SELECT v.host, $base + (85 * coalesce(m.m, 0)) // 100 AS pr
           |  FROM nd v LEFT JOIN m$it m ON m.host = v.host)""".stripMargin
      }.mkString(",\n")
      s"""ed AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM ln
         |  WHERE src_host <> dst_host),
         |nd AS (SELECT DISTINCT src AS host FROM ed UNION SELECT DISTINCT dst FROM ed),
         |nn AS (SELECT count(*) AS c FROM nd),
         |od AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
         |p0 AS (SELECT host, 1000000000000 // (SELECT c FROM nn) AS pr FROM nd),
         |$steps""".stripMargin
    }

    /** CTE chain from `ln` + `p5` (pagerank) to the UNRANKED frontier
      * `fr(url, n_refs, priority)` — shared by `q_crawl_frontier`
      * and `q_fetch_schedule`. */
    val frontier: String =
      s"""cr AS (SELECT DISTINCT url FROM pg),
         |cand AS (SELECT l.url, l.doc_id, l.src_host FROM ln l
         |  LEFT JOIN cr c ON l.url = c.url WHERE c.url IS NULL),
         |ph AS (SELECT DISTINCT url, src_host FROM cand),
         |pri AS (SELECT ph.url, CAST(sum(p.pr) AS BIGINT) AS priority
         |  FROM ph JOIN p5 p ON p.host = ph.src_host GROUP BY ph.url),
         |fr AS (SELECT pri.url, nr.n_refs, priority FROM pri JOIN
         |  (SELECT url, count(DISTINCT doc_id) AS n_refs FROM cand
         |   GROUP BY url) nr ON pri.url = nr.url)""".stripMargin

    /** The integer-HITS recurrence unrolled to `iters` steps — the
      * DuckDB spelling of `LinkGraph.hitsHosts` (SCALE = 10^6,
      * exact BIGINT sums, `(raw * SCALE) // max(raw)`
      * max-normalization each half-step). */
    def hits(iters: Int): String = {
      val steps = (1 to iters).map { it =>
        val hPrev = if (it == 1) "h0" else s"h${it - 1}"
        s"""ar$it AS (SELECT n.host, CAST(coalesce(s.v, 0) AS BIGINT) AS a
           |  FROM nd n LEFT JOIN (SELECT e.dst AS host, sum(p.h) AS v
           |    FROM ed e JOIN $hPrev p ON p.host = e.src GROUP BY e.dst) s
           |  ON s.host = n.host),
           |a$it AS (SELECT host, CAST((a * 1000000) // (SELECT max(a) FROM ar$it) AS BIGINT) AS a FROM ar$it),
           |hr$it AS (SELECT n.host, CAST(coalesce(s.v, 0) AS BIGINT) AS h
           |  FROM nd n LEFT JOIN (SELECT e.src AS host, sum(p.a) AS v
           |    FROM ed e JOIN a$it p ON p.host = e.dst GROUP BY e.src) s
           |  ON s.host = n.host),
           |h$it AS (SELECT host, CAST((h * 1000000) // (SELECT max(h) FROM hr$it) AS BIGINT) AS h FROM hr$it)""".stripMargin
      }.mkString(",\n")
      s"""ed AS (SELECT DISTINCT src_host AS src, dst_host AS dst FROM ln
         |  WHERE src_host <> dst_host),
         |nd AS (SELECT DISTINCT src AS host FROM ed UNION SELECT DISTINCT dst FROM ed),
         |h0 AS (SELECT host, CAST(1000000 AS BIGINT) AS h FROM nd),
         |$steps""".stripMargin
    }
  }

  private def linkPages(s: SparkSession, d: String): DataFrame =
    operators.LinkGraph.linkPageWrapped(Tables.documents(s, d),
      "doc_id", "source", "lang")

  /** Hyperlink extraction + RFC 3986 resolution over deterministic
    * planted pages (`LinkGraph.linkEdges`); full oracle re-derives
    * generation AND extraction. Scan-side zero-shuffle. */
  private val qLinkGraph = Q(
    "q_link_graph",
    (s, d) => operators.LinkGraph.linkEdges(linkPages(s, d),
      "doc_id", "url", "html").orderBy("doc_id", "pos"),
    Some(s"""WITH ${LinkSql.gen},
            |${LinkSql.pgToLn}
            |SELECT doc_id, pos, href, url, src_host, dst_host, internal, anchor_text
            |FROM ln ORDER BY doc_id, pos""".stripMargin))

  /** The link-extraction STREAMING twin drained to its end state:
    * wrap + extract + resolve are stateless per-row selects, so the
    * batch transform runs verbatim in append mode and the batch
    * oracle applies unchanged. */
  private val qLinkGraphStream = Q(
    "q_link_graph_stream",
    (s, d) => streaming.CorpusStream.linkEdgesOverFile(s, d)
      .orderBy("doc_id", "pos"),
    qLinkGraph.oracle)

  /** Anchor-text profile per destination host (`LinkGraph.anchorStats`):
    * modal anchor text with deterministic tie-break plus link/doc/
    * internal counts — the link-side training signal. Shuffles only
    * host-keyed aggregates. */
  private val qAnchorStats = Q(
    "q_anchor_stats",
    (s, d) => operators.LinkGraph.anchorStats(
      operators.LinkGraph.linkEdges(linkPages(s, d), "doc_id", "url", "html"))
      .orderBy("dst_host"),
    Some(s"""WITH ${LinkSql.gen},
            |${LinkSql.pgToLn},
            |pt AS (SELECT dst_host, anchor_text, count(*) AS c FROM ln GROUP BY 1, 2),
            |tp AS (SELECT dst_host, anchor_text AS top_text FROM (
            |  SELECT dst_host, anchor_text, row_number() OVER (
            |    PARTITION BY dst_host ORDER BY c DESC, anchor_text) AS rn FROM pt)
            |  WHERE rn = 1),
            |ag AS (SELECT dst_host, count(*) AS n_links,
            |  count(DISTINCT doc_id) AS n_docs,
            |  CAST(sum(internal) AS BIGINT) AS n_internal,
            |  count(DISTINCT anchor_text) AS n_texts
            | FROM ln GROUP BY dst_host)
            |SELECT ag.dst_host, n_links, n_docs, n_internal, n_texts, top_text
            |FROM ag JOIN tp ON ag.dst_host = tp.dst_host
            |ORDER BY ag.dst_host""".stripMargin))

  /** Fixed-point integer PageRank (5 iterations) over the host graph
    * (`LinkGraph.pageRankHosts`): authority scores with zero floating
    * point, bit-portable by construction; the oracle unrolls the
    * identical BIGINT recurrence. */
  private val qPagerank = Q(
    "q_pagerank",
    (s, d) => operators.LinkGraph.pageRankHosts(
      operators.LinkGraph.linkEdges(linkPages(s, d), "doc_id", "url", "html"))
      .orderBy(col("pr").desc, col("host")),
    Some(s"""WITH ${LinkSql.gen},
            |${LinkSql.pgToLn},
            |${LinkSql.pagerank(5)}
            |SELECT host, CAST(pr AS BIGINT) AS pr FROM p5
            |ORDER BY pr DESC, host""".stripMargin))

  /** The PageRank STREAMING twin: the distinct host-pair edge set
    * maintained as streaming state over the arriving crawl
    * (host-graph sized, never corpus sized), the integer iteration
    * run over the drained standing graph — a full drain reproduces
    * the batch edge set exactly, so the batch oracle applies
    * verbatim. */
  private val qPagerankStream = Q(
    "q_pagerank_stream",
    (s, d) => streaming.CorpusStream.pageRankOverFile(s, d)
      .orderBy(col("pr").desc, col("host")),
    qPagerank.oracle)

  /** HITS hubs & authorities (3 iterations) over the host graph
    * (`LinkGraph.hitsHosts`): the mutual-reinforcement companion to
    * PageRank, all-integer (SCALE 10^6, max-normalized) so both
    * engines run the identical recurrence bit for bit. */
  private val qHits = Q(
    "q_hits",
    (s, d) => operators.LinkGraph.hitsHosts(
      operators.LinkGraph.linkEdges(linkPages(s, d), "doc_id", "url", "html"))
      .orderBy("host"),
    Some(s"""WITH ${LinkSql.gen},
            |${LinkSql.pgToLn},
            |${LinkSql.hits(3)}
            |SELECT a3.host, a3.a AS authority, h3.h AS hub
            |FROM a3 JOIN h3 ON a3.host = h3.host ORDER BY a3.host""".stripMargin))

  /** Per-host triangle counts over the undirected host graph
    * (`LinkGraph.triangleCounts`): exact integer motif counting via
    * the DEGREE-ordered edge-iterator join (hub hosts get outdeg 0,
    * so no quadratic wedge blowup at web scale) — each triangle
    * enumerated once, all three corners credited. The oracle
    * re-derives the identical orientation, though the COUNTS are
    * orientation-invariant by construction. */
  private val qTriangles = Q(
    "q_triangles",
    (s, d) => operators.LinkGraph.triangleCounts(
      operators.LinkGraph.linkEdges(linkPages(s, d), "doc_id", "url", "html"))
      .orderBy("host"),
    Some(s"""WITH ${LinkSql.gen},
            |${LinkSql.pgToLn},
            |und AS (SELECT DISTINCT least(src_host, dst_host) AS a,
            |    greatest(src_host, dst_host) AS b
            |  FROM ln WHERE src_host <> dst_host),
            |dg AS (SELECT h, count(*) AS d FROM (
            |    SELECT a AS h FROM und UNION ALL SELECT b FROM und)
            |  GROUP BY h),
            |ore AS (SELECT
            |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
            |      THEN u.a ELSE u.b END AS x,
            |    CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
            |      THEN u.b ELSE u.a END AS y
            |  FROM und u JOIN dg da ON da.h = u.a JOIN dg db ON db.h = u.b),
            |tri AS (SELECT e1.x AS hx, e1.y AS hy, e2.y AS hz
            |  FROM ore e1 JOIN ore e2 ON e2.x = e1.y
            |  JOIN ore e3 ON e3.x = e1.x AND e3.y = e2.y),
            |corners AS (SELECT hx AS host FROM tri
            |  UNION ALL SELECT hy FROM tri UNION ALL SELECT hz FROM tri)
            |SELECT host, count(*) AS n_tri FROM corners
            |GROUP BY host ORDER BY host""".stripMargin))

  /** Crawl-frontier selection (`LinkGraph.crawlFrontier`): uncrawled
    * URLs ranked by the INTEGER PageRank mass of their distinct
    * linking hosts — link extraction, membership anti-join and the
    * authority scores composed in one plan, every stage re-derived by
    * the chained oracle. */
  private val qCrawlFrontier = Q(
    "q_crawl_frontier",
    (s, d) => operators.LinkGraph.crawlFrontier(linkPages(s, d),
      "doc_id", "url", "html"),
    Some(s"""WITH ${LinkSql.gen},
            |${LinkSql.pgToLn},
            |${LinkSql.pagerank(5)},
            |${LinkSql.frontier}
            |SELECT url, n_refs, priority FROM fr
            |ORDER BY priority DESC, url LIMIT 100""".stripMargin))

  /** Per-host politeness schedule over the ranked frontier
    * (`LinkGraph.fetchSchedule`): wave w holds at most one fetch per
    * host, assigned in priority order — one host-keyed window,
    * row-local at any frontier size. */
  private val qFetchSchedule = Q(
    "q_fetch_schedule",
    (s, d) => operators.LinkGraph.fetchSchedule(
      operators.LinkGraph.crawlFrontier(linkPages(s, d),
        "doc_id", "url", "html"))
      .orderBy("wave", "host", "url"),
    Some(s"""WITH ${LinkSql.gen},
            |${LinkSql.pgToLn},
            |${LinkSql.pagerank(5)},
            |${LinkSql.frontier},
            |top AS (SELECT url, priority FROM fr
            |  ORDER BY priority DESC, url LIMIT 100),
            |t2 AS (SELECT url, regexp_replace(regexp_extract(url,
            |  '${operators.Extract.Url.Auth}', 1), ':[0-9]+$$', '') AS host,
            |  priority FROM top)
            |SELECT url, host, CAST(row_number() OVER (
            |  PARTITION BY host ORDER BY priority DESC, url) AS INT) AS wave,
            |  priority
            |FROM t2 ORDER BY wave, host, url""".stripMargin))

  /** BM25 top-10 per planted query workload (`Retrieval.bm25TopK`):
    * the sparse-lexical first-stage ranker; ranking is by ROUNDED
    * score so cross-engine float order can never flip a rank. */
  private val qBm25Topk = Q(
    "q_bm25_topk",
    (s, d) => {
      val docs = Tables.documents(s, d)
      operators.Retrieval.bm25TopK(docs, "doc_id", "text",
        operators.Retrieval.queryTerms(docs, "doc_id", "text"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH tk AS (SELECT doc_id,
           |  list_filter(string_split(text, ' '), t -> t <> '') AS t FROM documents),
           |ln_ AS (SELECT doc_id, CAST(len(t) AS INT) AS dl FROM tk),
           |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM ln_),
           |tf0 AS (SELECT doc_id, unnest(t) AS term FROM tk),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM tf0 GROUP BY 1, 2),
           |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t[1:4])) AS term
           | FROM tk WHERE doc_id % 97 = 0),
           |sc AS (SELECT q.query_id, f.doc_id,
           |  ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (f.tf * 2.2)
           |   / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS s
           | FROM tf f JOIN qt q USING (term) JOIN dfq d USING (term)
           |   JOIN ln_ l ON l.doc_id = f.doc_id, st s),
           |ag AS (SELECT query_id, doc_id, round(sum(s), 6) AS score FROM sc GROUP BY 1, 2),
           |rk AS (SELECT query_id, doc_id, score, CAST(row_number() OVER (
           |   PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank FROM ag)
           |SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= 10
           |ORDER BY query_id, rank""".stripMargin))

  /** The BRUTE-FORCE hybrid twin (`Retrieval.hybridTopK`): BM25 and
    * dense-cosine top-10s fused by all-integer `10^6 div (60 + rank)`.
    * DEMOTED from primary (VERDICT r14 #3): the dense side is a
    * declared corpus×queries crossJoin — the exact-recall ORACLE
    * ANCHOR, eval-bounded by contract (`maxCorpus` plan guard
    * `raise_error`s past 1M corpus rows). `q_hybrid_topk` is the
    * declared primary with the cell-bounded dense side. */
  private val qHybridTopkBrute = {
    def cosSql(q: String, e: String): String = {
      def n2(v: String) =
        s"sqrt(list_sum(list_transform(list_zip($v, $v), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))))"
      def dp =
        s"list_sum(list_transform(list_zip($q, $e), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
      s"round(CASE WHEN ${n2(q)} * ${n2(e)} > 0 THEN $dp / (${n2(q)} * ${n2(e)}) ELSE 0.0 END, 6)"
    }
    Q(
      "q_hybrid_topk_brute",
      (s, d) => operators.Retrieval.hybridTopK(Tables.documents(s, d),
        Tables.embeddings(s, d)).orderBy("query_id", "rank"),
      Some(s"""WITH u AS (SELECT d.doc_id, d.text, e.embedding
              |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
              |tk AS (SELECT doc_id,
              |  list_filter(string_split(text, ' '), t -> t <> '') AS t FROM u),
              |ln_ AS (SELECT doc_id, CAST(len(t) AS INT) AS dl FROM tk),
              |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM ln_),
              |tf0 AS (SELECT doc_id, unnest(t) AS term FROM tk),
              |tf AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM tf0 GROUP BY 1, 2),
              |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t[1:4])) AS term
              | FROM tk WHERE doc_id % 97 = 0),
              |sc AS (SELECT q.query_id, f.doc_id,
              |  ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (f.tf * 2.2)
              |   / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS s
              | FROM tf f JOIN qt q USING (term) JOIN dfq d USING (term)
              |   JOIN ln_ l ON l.doc_id = f.doc_id, st s),
              |ag AS (SELECT query_id, doc_id, round(sum(s), 6) AS score FROM sc GROUP BY 1, 2),
              |bm AS (SELECT query_id, doc_id, rank FROM (
              |  SELECT query_id, doc_id, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank FROM ag)
              |  WHERE rank <= 10),
              |qv AS (SELECT doc_id AS query_id, embedding AS qvec FROM u WHERE doc_id % 97 = 0),
              |dc AS (SELECT q.query_id, u.doc_id, ${cosSql("q.qvec", "u.embedding")} AS cos
              | FROM u, qv q),
              |dn AS (SELECT query_id, doc_id, rank FROM (
              |  SELECT query_id, doc_id, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT) AS rank FROM dc)
              |  WHERE rank <= 10),
              |fu AS (SELECT coalesce(b.query_id, d.query_id) AS query_id,
              |  coalesce(b.doc_id, d.doc_id) AS doc_id,
              |  CAST(coalesce(1000000 // (60 + b.rank), 0)
              |     + coalesce(1000000 // (60 + d.rank), 0) AS BIGINT) AS rrf
              | FROM bm b FULL OUTER JOIN dn d
              |   ON b.query_id = d.query_id AND b.doc_id = d.doc_id)
              |SELECT query_id, rank, doc_id, rrf FROM (
              | SELECT query_id, doc_id, rrf, CAST(row_number() OVER (
              |   PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM fu)
              |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin))
  }

  /** The BM25 SERVE twin (`CorpusStream.bm25ServeOverFile`): the
    * sparse ranker's streaming serve tier — batch-fitted broadcast
    * inverted index, live query feed through the row-local
    * `Bm25TopK` scan; drained ≡ batch `q_bm25_topk`, so its full
    * oracle applies verbatim. */
  private val qBm25ServeStream = Q(
    "q_bm25_serve_stream",
    (s, d) => streaming.CorpusStream.bm25ServeOverFile(s, d)
      .orderBy("query_id", "rank"),
    qBm25Topk.oracle)

  /** The HYBRID serve twin (`CorpusStream.hybridServeOverFile`): both
    * first-stage rankers and the integer RRF fusion as one row-local
    * scan over batch-fitted sparse + dense shards. The serve shards
    * hold the FULL corpus, so drained ≡ batch BRUTE hybrid row-for-row
    * (`q_hybrid_topk_brute`), whose full chained oracle applies
    * verbatim. */
  private val qHybridServeStream = Q(
    "q_hybrid_serve_stream",
    (s, d) => streaming.CorpusStream.hybridServeOverFile(s, d)
      .orderBy("query_id", "rank"),
    qHybridTopkBrute.oracle)

  /** THE declared hybrid (`Retrieval.hybridTopKGrid`) — promoted to
    * primary in r15 (VERDICT r14 #3): same BM25 ranker, same integer
    * RRF fusion (`Retrieval.rrfFuse` — one algebra behind both
    * declared hybrids), but the dense ranker is the grid-cell ANN
    * (`Ivf.topkGrid`, the `sim_ivf_topk_grid` algebra) instead of the
    * brute-force corpus×queries crossJoin — candidates bounded to the
    * query's probed grid cells, so the declared query's plan shape is
    * the one that survives 100 TB. The chained oracle re-derives BM25,
    * grid assignment, ±1 probe expansion, the cell-bounded candidate
    * join, the dense rank AND the fusion — full-oracle end to end even
    * though the dense side is approximate (the approximation is in
    * WHICH candidates exist, not in any non-deterministic choice).
    * `q_hybrid_topk_brute` is the eval-bounded exact-recall anchor. */
  private val qHybridTopk = {
    val (g, k) = (0.25, 10)
    Q(
      "q_hybrid_topk",
      (s, d) => operators.Retrieval.hybridTopKGrid(Tables.documents(s, d),
        Tables.embeddings(s, d), k = k, gridSize = g)
        .orderBy("query_id", "rank"),
      Some(s"""WITH u AS (SELECT d.doc_id, d.text, e.embedding
              |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
              |tk AS (SELECT doc_id,
              |  list_filter(string_split(text, ' '), t -> t <> '') AS t FROM u),
              |ln_ AS (SELECT doc_id, CAST(len(t) AS INT) AS dl FROM tk),
              |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM ln_),
              |tf0 AS (SELECT doc_id, unnest(t) AS term FROM tk),
              |tf AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf FROM tf0 GROUP BY 1, 2),
              |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
              |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(t[1:4])) AS term
              | FROM tk WHERE doc_id % 97 = 0),
              |sc AS (SELECT q.query_id, f.doc_id,
              |  ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * (f.tf * 2.2)
              |   / (f.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS s
              | FROM tf f JOIN qt q USING (term) JOIN dfq d USING (term)
              |   JOIN ln_ l ON l.doc_id = f.doc_id, st s),
              |ag AS (SELECT query_id, doc_id, round(sum(s), 6) AS score FROM sc GROUP BY 1, 2),
              |bm AS (SELECT query_id, doc_id, rank FROM (
              |  SELECT query_id, doc_id, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank FROM ag)
              |  WHERE rank <= $k),
              |v AS (SELECT doc_id AS id, embedding AS f,
              |  sqrt(list_sum(list_transform(list_zip(embedding, embedding),
              |       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS n
              | FROM u),
              |a AS (SELECT id, f,
              |  CAST(floor(CAST(f[1] AS DOUBLE) / n / $g) AS BIGINT) AS c1,
              |  CAST(floor(CAST(f[2] AS DOUBLE) / n / $g) AS BIGINT) AS c2
              | FROM v WHERE n > 0),
              |probes AS (SELECT q.id, q.f, q.c1 + dx.o AS c1, q.c2 + dy.o AS c2
              | FROM (SELECT * FROM a WHERE id % 97 = 0) q,
              |      (VALUES (-1),(0),(1)) dx(o), (VALUES (-1),(0),(1)) dy(o)),
              |cand AS (SELECT p.id AS query_id, c.id AS doc_id,
              |  round(${duckCosine("p.f", "c.f")}, 6) AS cos
              | FROM probes p JOIN a c ON c.c1 = p.c1 AND c.c2 = p.c2 AND c.id <> p.id),
              |dn AS (SELECT query_id, doc_id, rank FROM (
              |  SELECT query_id, doc_id, CAST(row_number() OVER (
              |    PARTITION BY query_id ORDER BY cos DESC, doc_id) AS INT) AS rank FROM cand)
              |  WHERE rank <= $k),
              |fu AS (SELECT coalesce(b.query_id, d.query_id) AS query_id,
              |  coalesce(b.doc_id, d.doc_id) AS doc_id,
              |  CAST(coalesce(1000000 // (60 + b.rank), 0)
              |     + coalesce(1000000 // (60 + d.rank), 0) AS BIGINT) AS rrf
              | FROM bm b FULL OUTER JOIN dn d
              |   ON b.query_id = d.query_id AND b.doc_id = d.doc_id)
              |SELECT query_id, rank, doc_id, rrf FROM (
              | SELECT query_id, doc_id, rrf, CAST(row_number() OVER (
              |   PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM fu)
              |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin))
  }

  /** Capped inverted-index postings (`Retrieval.postings`): per term,
    * df, total occurrences, and the top-8 posting doc_ids by
    * (tf desc, doc_id) — the materialized index BM25's statistics
    * come from, output bounded per term by the cap. The doc_id list
    * is emitted as ONE space-joined string (VERDICT r13 #1): the
    * driver's pandas sort-then-hash canonicalizer cannot hash an
    * array cell (`numpy.ndarray` is unhashable), so an array column
    * is unadjudicable by the contract even when the values match —
    * the scalar spelling carries identical information and both
    * engines derive it with the same join. */
  private val qPostings = Q(
    "q_postings",
    (s, d) => operators.Retrieval.postings(Tables.documents(s, d),
      "doc_id", "text")
      .withColumn("postings",
        concat_ws(" ", transform(col("postings"), _.cast("string"))))
      .orderBy("term"),
    Some("""WITH tk AS (SELECT doc_id,
           |  list_filter(string_split(text, ' '), t -> t <> '') AS t FROM documents),
           |tf0 AS (SELECT doc_id, unnest(t) AS term FROM tk),
           |tf AS (SELECT doc_id, term, CAST(count(*) AS INT) AS tf
           | FROM tf0 GROUP BY 1, 2)
           |SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS n_total,
           | array_to_string(list_slice(
           |   list(doc_id ORDER BY tf DESC, doc_id), 1, 8), ' ') AS postings
           |FROM tf GROUP BY term ORDER BY term""".stripMargin))

  /** CCNet-style cross-document line dedup (`Lines.lineDedup`) over a
    * planted multi-line corpus: boilerplate lines (≥2 distinct docs)
    * removed everywhere, within-doc repeats survive; full oracle
    * re-derives plant + removal + order-preserving reassembly. */
  private val qLineDedup = Q(
    "q_line_dedup",
    (s, d) => operators.Lines.lineDedup(
      operators.Lines.linesWrapped(Tables.documents(s, d),
        "doc_id", "text", "source"),
      "doc_id", "content").orderBy("doc_id"),
    Some("""WITH l0 AS (SELECT doc_id,
           |  'subscribe to the ' || source || ' newsletter' || chr(10) ||
           |  coalesce(text, '') || chr(10) ||
           |  'tag ' || CAST(doc_id % 4 AS VARCHAR) || chr(10) ||
           |  'closing note ' || CAST(doc_id AS VARCHAR) ||
           |  CASE WHEN doc_id % 9 = 0
           |    THEN chr(10) || 'closing note ' || CAST(doc_id AS VARCHAR)
           |    ELSE '' END AS content
           | FROM documents),
           |sx AS (SELECT doc_id, string_split(content, chr(10)) AS ls FROM l0),
           |ex AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos,
           |  unnest(ls) AS line FROM sx),
           |dup AS (SELECT md5(line) AS d FROM ex
           | GROUP BY md5(line) HAVING count(DISTINCT doc_id) >= 2),
           |mk AS (SELECT e.doc_id, e.pos, e.line,
           |  CASE WHEN d.d IS NULL THEN 0 ELSE 1 END AS dup
           | FROM ex e LEFT JOIN dup d ON md5(e.line) = d.d)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
           | CAST(sum(dup) AS INT) AS n_removed,
           | coalesce(array_to_string(list(line ORDER BY pos) FILTER (WHERE dup = 0),
           |   chr(10)), '') AS content
           |FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** The line-dedup STREAMING twin drained to its end state — the
    * streaming-natural FIRST-OCCURRENCE rule (an emitted row cannot
    * be retracted, so the first arrival of a line keeps it and every
    * later copy drops, within-doc repeats included); the oracle
    * spells that rule directly (rank 1 per line digest by (doc_id,
    * pos)) and excludes the unemitted max(doc_id) window per the
    * span-stream scheme. */
  private val qLineDedupStream = Q(
    "q_line_dedup_stream",
    (s, d) => streaming.CorpusStream.lineDedupOverFile(s, d)
      .orderBy("doc_id"),
    Some("""WITH l0 AS (SELECT doc_id,
           |  'subscribe to the ' || source || ' newsletter' || chr(10) ||
           |  coalesce(text, '') || chr(10) ||
           |  'tag ' || CAST(doc_id % 4 AS VARCHAR) || chr(10) ||
           |  'closing note ' || CAST(doc_id AS VARCHAR) ||
           |  CASE WHEN doc_id % 9 = 0
           |    THEN chr(10) || 'closing note ' || CAST(doc_id AS VARCHAR)
           |    ELSE '' END AS content
           | FROM documents),
           |sx AS (SELECT doc_id, string_split(content, chr(10)) AS ls FROM l0),
           |ex AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos,
           |  unnest(ls) AS line FROM sx),
           |mk AS (SELECT doc_id, pos, line,
           |  CASE WHEN row_number() OVER (
           |    PARTITION BY md5(line) ORDER BY doc_id, pos) = 1
           |  THEN 0 ELSE 1 END AS dup FROM ex)
           |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
           | CAST(sum(dup) AS INT) AS n_removed,
           | coalesce(array_to_string(list(line ORDER BY pos) FILTER (WHERE dup = 0),
           |   chr(10)), '') AS content
           |FROM mk
           |WHERE doc_id <> (SELECT max(doc_id) FROM documents)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // =====================================================================
  // Clustering / training layout / sketches (round 13, second half)
  // =====================================================================

  /** Shared oracle-SQL fragment for the integer-k-means family — the
    * DuckDB spelling of `Cluster.fitKmeans` + final assignment, CTE
    * chain `v` → `c0` → iterations → `fa(id, j, dist)`. The identical
    * recurrence: +1.0-shift 10^-3 quantization, md5-hash-ordered
    * seeds, exact-integer argmin with smallest-centroid tie-break,
    * `sum // count` centroid means with emptied clusters keeping the
    * previous centroid (`coalesce`). */
  private object ClusterSql {
    def kmeans(k: Int, iters: Int): String = {
      val dist = "list_sum(list_transform(list_zip(v.q, c.c), " +
        "p -> (p[1] - p[2]) * (p[1] - p[2])))"
      val steps = (1 to iters).map { it =>
        val prev = s"c${it - 1}"
        s"""a$it AS (SELECT id, q, j FROM (
           |  SELECT v.id, v.q, c.j, row_number() OVER (PARTITION BY v.id
           |    ORDER BY $dist, c.j) AS rn
           |  FROM v, $prev c) WHERE rn = 1),
           |e$it AS (SELECT j, unnest(generate_series(1, len(q))) AS pos,
           |  unnest(q) AS val FROM a$it),
           |s$it AS (SELECT j, pos, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
           |  FROM e$it GROUP BY 1, 2),
           |x$it AS (SELECT j, unnest(generate_series(1, len(c))) AS pos,
           |  unnest(c) AS pv FROM $prev),
           |c$it AS (SELECT x.j, list(coalesce(s.s // s.n, x.pv) ORDER BY x.pos) AS c
           |  FROM x$it x LEFT JOIN s$it s ON s.j = x.j AND s.pos = x.pos
           |  GROUP BY x.j)""".stripMargin
      }.mkString(",\n")
      s"""v AS (SELECT vec_id AS id,
         |  list_transform(embedding,
         |    x -> CAST(round((CAST(x AS DOUBLE) + 1.0) * 1000) AS BIGINT)) AS q
         | FROM embeddings),
         |sd AS (SELECT id, q FROM v ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $k),
         |c0 AS (SELECT row_number() OVER (
         |  ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS j, q AS c FROM sd),
         |$steps,
         |fa AS (SELECT id, j, CAST(dist AS BIGINT) AS dist FROM (
         |  SELECT v.id, c.j, $dist AS dist, row_number() OVER (PARTITION BY v.id
         |    ORDER BY $dist, c.j) AS rn
         |  FROM v, c$iters c) WHERE rn = 1)""".stripMargin
    }
  }

  /** Integer-exact k-means over the embeddings (`Cluster.kmeansClusters`,
    * k=8, 3 full-EM iterations): every quantity BIGINT so assignment,
    * updates and distances are bit-portable; the full oracle re-derives
    * quantization, seeding, every iteration and the final argmin. */
  private val qKmeansClusters = Q(
    "q_kmeans_clusters",
    (s, d) => operators.Cluster.kmeansClusters(
      Tables.embeddings(s, d), "vec_id", "embedding").orderBy("vec_id"),
    Some(s"""WITH ${ClusterSql.kmeans(8, 3)}
            |SELECT id AS vec_id, CAST(j AS INT) AS cluster, dist FROM fa
            |ORDER BY vec_id""".stripMargin))

  /** Per-cluster profile (`Cluster.clusterStats`): member count + the
    * integer mean squared distance — the compactness report cluster-
    * level curation decisions read. */
  private val qKmeansStats = Q(
    "q_kmeans_stats",
    (s, d) => operators.Cluster.clusterStats(
      operators.Cluster.kmeansClusters(
        Tables.embeddings(s, d), "vec_id", "embedding")).orderBy("cluster"),
    Some(s"""WITH ${ClusterSql.kmeans(8, 3)}
            |SELECT CAST(j AS INT) AS cluster, count(*) AS n,
            |  CAST(sum(dist) // count(*) AS BIGINT) AS avg_dist
            |FROM fa GROUP BY j ORDER BY cluster""".stripMargin))

  /** Cluster-balanced sample (`Cluster.clusterSample`): ≤40 members
    * per cluster in md5-hash order — the downsampling recipe that
    * keeps rare topical clusters represented. */
  private val qClusterSample = Q(
    "q_cluster_sample",
    (s, d) => operators.Cluster.clusterSample(
      operators.Cluster.kmeansClusters(
        Tables.embeddings(s, d), "vec_id", "embedding"))
      .orderBy("cluster", "rank"),
    Some(s"""WITH ${ClusterSql.kmeans(8, 3)},
            |rk AS (SELECT j, id, dist, CAST(row_number() OVER (
            |  PARTITION BY j ORDER BY md5(CAST(id AS VARCHAR)), id) AS INT) AS rank
            |  FROM fa)
            |SELECT CAST(j AS INT) AS cluster, rank, id AS vec_id, dist
            |FROM rk WHERE rank <= 40 ORDER BY cluster, rank""".stripMargin))

  /** The k-means SERVE twin (fit batch / serve stream — the ANN-tier
    * pattern): the live embedding feed assigns through the scan-side
    * argmin against batch-fitted centroids; drained ≡ batch, so
    * `q_kmeans_clusters`'s full oracle applies verbatim. */
  private val qKmeansStream = Q(
    "q_kmeans_stream",
    (s, d) => streaming.CorpusStream.kmeansAssignOverFile(s, d)
      .orderBy("vec_id"),
    qKmeansClusters.oracle)

  /** Cluster-level corpus composition (`Cluster.clusterMix`): per
    * cluster its doc count, token mass, and all-integer ppm share
    * over the documents⋈embeddings join — the mixture report
    * cluster-proportional sampling reads. */
  private val qClusterMix = Q(
    "q_cluster_mix",
    (s, d) => operators.Cluster.clusterMix(
      operators.Cluster.kmeansClusters(
        Tables.embeddings(s, d), "vec_id", "embedding"),
      Tables.documents(s, d), "doc_id", "text").orderBy("cluster"),
    Some(s"""WITH ${ClusterSql.kmeans(8, 3)},
            |tw AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
            |  t -> t <> '')) AS BIGINT) AS t FROM documents),
            |pc AS (SELECT CAST(fa.j AS INT) AS cluster, count(*) AS n_docs,
            |  CAST(sum(tw.t) AS BIGINT) AS n_tokens
            | FROM fa JOIN tw ON tw.doc_id = fa.id GROUP BY 1)
            |SELECT cluster, n_docs, n_tokens,
            |  CAST((n_tokens * 1000000) // (SELECT sum(n_tokens) FROM pc) AS BIGINT) AS share_ppm
            |FROM pc ORDER BY cluster""".stripMargin))

  /** Budget-constrained cluster-proportional selection
    * (`Cluster.clusterBudget`, budget 20000 tokens): each cluster
    * keeps its hash-ordered prefix within `(budget · share_ppm) div
    * 10^6` tokens — composition-preserving downsampling, the
    * chained oracle re-deriving clustering, shares, allocations and
    * the running-sum cut. */
  private val qClusterBudget = Q(
    "q_cluster_budget",
    (s, d) => operators.Cluster.clusterBudget(
      operators.Cluster.kmeansClusters(
        Tables.embeddings(s, d), "vec_id", "embedding"),
      Tables.documents(s, d), "doc_id", "text", budget = 20000L)
      // vec_id closes the total order: a zero-token doc shares
      // cum_tokens with its predecessor (ADVICE r13), and a non-total
      // ORDER BY lets the two engines' hash compare flake.
      .orderBy("cluster", "cum_tokens", "vec_id"),
    Some(s"""WITH ${ClusterSql.kmeans(8, 3)},
            |tw AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '),
            |  t -> t <> '')) AS BIGINT) AS t FROM documents),
            |pc AS (SELECT fa.j, count(*) AS n_docs, CAST(sum(tw.t) AS BIGINT) AS n_tokens
            | FROM fa JOIN tw ON tw.doc_id = fa.id GROUP BY 1),
            |al AS (SELECT j, (20000 * ((n_tokens * 1000000) //
            |  (SELECT sum(n_tokens) FROM pc))) // 1000000 AS alloc FROM pc),
            |jn AS (SELECT fa.j, fa.id, tw.t,
            |  CAST(sum(tw.t) OVER (PARTITION BY fa.j
            |    ORDER BY md5(CAST(fa.id AS VARCHAR)), fa.id) AS BIGINT) AS cum
            | FROM fa JOIN tw ON tw.doc_id = fa.id)
            |SELECT CAST(jn.j AS INT) AS cluster, jn.id AS vec_id,
            |  jn.t AS n_tokens, jn.cum AS cum_tokens
            |FROM jn JOIN al ON al.j = jn.j WHERE jn.cum <= al.alloc
            |ORDER BY cluster, cum_tokens, vec_id""".stripMargin))

  /** Cluster-purity eval (`Cluster.clusterPurity`): per cluster the
    * modal embedding label (tie-break count desc, label asc), its
    * count and all-integer ppm purity — the clustering-vs-classes
    * measurement, itself oracle-pinned like `q_retrieval_eval`. */
  private val qClusterPurity = Q(
    "q_cluster_purity",
    (s, d) => operators.Cluster.clusterPurity(
      operators.Cluster.kmeansClusters(
        Tables.embeddings(s, d), "vec_id", "embedding"),
      Tables.embeddings(s, d), "vec_id", "label").orderBy("cluster"),
    Some(s"""WITH ${ClusterSql.kmeans(8, 3)},
            |lb AS (SELECT fa.j, e.label AS l FROM fa
            |  JOIN embeddings e ON e.vec_id = fa.id),
            |pl AS (SELECT j, l, count(*) AS c FROM lb GROUP BY 1, 2),
            |tp AS (SELECT j, l AS top_label, c AS top_n FROM (
            |  SELECT j, l, c, row_number() OVER (
            |    PARTITION BY j ORDER BY c DESC, l) AS rn FROM pl) WHERE rn = 1),
            |nn AS (SELECT j, count(*) AS n FROM lb GROUP BY 1)
            |SELECT CAST(nn.j AS INT) AS cluster, n, top_label, top_n,
            |  CAST((top_n * 1000000) // n AS BIGINT) AS purity_ppm
            |FROM nn JOIN tp ON nn.j = tp.j ORDER BY cluster""".stripMargin))

  /** Source-interleaved epoch shuffle (`Layout.epochInterleave`):
    * within each (epoch, shard) the sources round-robin, so a
    * sequential reader never sees a long single-source run — the
    * batch-diversity companion to `q_shuffle_epoch`. */
  private val qShuffleInterleave = Q(
    "q_shuffle_interleave",
    (s, d) => operators.Layout.epochInterleave(Tables.documents(s, d),
      "doc_id", "source").orderBy("epoch", "shard", "pos"),
    Some("""WITH ep AS (SELECT doc_id, source, unnest([0, 1]) AS epoch
           |  FROM documents),
           |ky AS (SELECT doc_id, source, epoch,
           |  md5('ep' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
           | FROM ep),
           |sh AS (SELECT epoch,
           |  CAST(CAST(('0x' || substr(k, 1, 6)) AS BIGINT) % 32 AS INT) AS shard,
           |  doc_id, source, k FROM ky),
           |r1 AS (SELECT *, row_number() OVER (
           |  PARTITION BY epoch, shard, source ORDER BY k, doc_id) AS r FROM sh)
           |SELECT epoch, shard, CAST(row_number() OVER (
           |  PARTITION BY epoch, shard ORDER BY r, source, doc_id) AS INT) AS pos,
           |  doc_id, source
           |FROM r1 ORDER BY epoch, shard, pos""".stripMargin))

  /** Deterministic training-epoch shuffle (`Layout.epochShuffle`,
    * 2 epochs × 32 shards): per-(epoch, doc) md5 keys ARE the
    * permutation — reproducible batch order with no RNG; full oracle
    * re-derives key, shard and rank. */
  private val qShuffleEpoch = Q(
    "q_shuffle_epoch",
    (s, d) => operators.Layout.epochShuffle(Tables.documents(s, d), "doc_id")
      .orderBy("epoch", "shard", "pos"),
    Some("""WITH ep AS (SELECT doc_id, unnest([0, 1]) AS epoch FROM documents),
           |ky AS (SELECT doc_id, epoch,
           |  md5('ep' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
           | FROM ep),
           |sh AS (SELECT epoch,
           |  CAST(CAST(('0x' || substr(k, 1, 6)) AS BIGINT) % 32 AS INT) AS shard,
           |  doc_id, k FROM ky)
           |SELECT epoch, shard, CAST(row_number() OVER (
           |  PARTITION BY epoch, shard ORDER BY k, doc_id) AS INT) AS pos, doc_id
           |FROM sh ORDER BY epoch, shard, pos""".stripMargin))

  /** Count-min-sketch heavy hitters with the exact-count error report
    * (`Sketches.cmsHeavyHitters`, depth 3 × width 256, top 20): the
    * md5-rowed sketch, every estimate, and `err = est - exact` all
    * re-derived by the oracle — the sketch-distortion measurement
    * pattern (`q_sq_distortion`) applied to frequency estimation. */
  private val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, d) => operators.Sketches.cmsHeavyHitters(
      Tables.documents(s, d), "text"),
    Some("""WITH tk AS (SELECT unnest(list_filter(string_split(text, ' '),
           |    t -> t <> '')) AS term FROM documents),
           |ex AS (SELECT term, count(*) AS exact FROM tk GROUP BY 1),
           |rw AS (SELECT term, unnest([0, 1, 2]) AS i FROM tk),
           |ce AS (SELECT i, CAST(CAST(('0x' || substr(md5(
           |  CAST(i AS VARCHAR) || ':' || term), 1, 6)) AS BIGINT) % 256 AS INT) AS c
           | FROM rw),
           |sk AS (SELECT i, c, count(*) AS cnt FROM ce GROUP BY 1, 2),
           |pb AS (SELECT term, exact, unnest([0, 1, 2]) AS i FROM ex),
           |pc AS (SELECT term, exact, i, CAST(CAST(('0x' || substr(md5(
           |  CAST(i AS VARCHAR) || ':' || term), 1, 6)) AS BIGINT) % 256 AS INT) AS c
           | FROM pb),
           |es AS (SELECT p.term, p.exact, min(s.cnt) AS est
           |  FROM pc p JOIN sk s ON s.i = p.i AND s.c = p.c GROUP BY 1, 2)
           |SELECT term, est, exact, est - exact AS err FROM es
           |ORDER BY est DESC, term LIMIT 20""".stripMargin))

  /** The CMS STREAMING twin: the sketch maintained as constant-size
    * complete-mode streaming state over the live feed (frequency
    * monitoring in depth·width cells — never term-keyed state), the
    * report computed over the drained grid; drained ≡ batch sketch,
    * so `q_heavy_hitters`'s full oracle applies verbatim. */
  private val qHeavyHittersStream = Q(
    "q_heavy_hitters_stream",
    (s, d) => streaming.CorpusStream.cmsOverFile(s, d),
    qHeavyHitters.oracle)

  /** The HITS STREAMING twin: integer HITS run over the maintained
    * standing host graph (the `q_pagerank_stream` edge state); a full
    * drain reproduces the batch edge set exactly, so `q_hits`'s
    * oracle applies verbatim. */
  private val qHitsStream = Q(
    "q_hits_stream",
    (s, d) => streaming.CorpusStream.hitsOverFile(s, d).orderBy("host"),
    qHits.oracle)

  /** The triangle-count STREAMING twin over the same maintained edge
    * state; `q_triangles`'s oracle applies verbatim. */
  private val qTrianglesStream = Q(
    "q_triangles_stream",
    (s, d) => streaming.CorpusStream.trianglesOverFile(s, d).orderBy("host"),
    qTriangles.oracle)

  // =====================================================================
  // All declared queries, in SURVEY §2 order
  // =====================================================================

  val all: Seq[Q] = Seq(
    qFlagship, qFlagshipOrders,
    qAggCustomerProfile, qAggCustomerFreq, qAggMerchantProfile,
    qFilterValid, qProjectFeatures, qFillnaZero, qValidateErrors,
    qTimeFeatures, qTimeFeatureDefaults, qRuleScore, qDeviation,
    qInvSigmoid, qNormAe, qFuseWorker, qJoinScores,
    qWinCustAvg, qWinCustCount, qWinMerchAvg, qWinDedup,
    qTopkRisky,
    qRowwiseMse, qAeThreshold, qAeThresholdApprox, qAeThresholdSample,
    qTextStats, qLangId, qLangClassifier, qLangClassifierStream, qTokenCount, qTfidfTop, qFingerprint,
    qWinnowFingerprint, qCorpusClean,
    qDedupExact, qNgramJaccard, qSimBruteforce, qSimServe, qSimServeSharded,
    qSimServeStream, qBitextMine, qBitextMineStream,
    qHardNegatives, qHardNegativesStream,
    qKnnGraph, qKnnGraphSharded, qKnnGraphInc, qKnnGraphDel, qKnnGraphStream,
    qKnnGraphStreamLog,
    qContinuousCorpus, qContinuousCorpusLog, qKnnGraphIvf,
    qKnnGraphGrid,
    qKnnClusters, qEmbedPipeline, qRetrievalEval,
    qSimLshTopk, qSimLshTopkMd5, qSimIvfTopk,
    qSimIvfTopkGrid, qSimPqTopk, qSimPqTopkMd5, qSimPqServe, qSimSqTopk,
    qSqDistortion, qSqDistortionStream, qSimSqServe,
    qSimSqServeStream, qSimIvfPqTopk, qSimGraphTopk, qSimGraphTopkStream,
    qDedupMinhash, qDedupMinhashMd5, qDedupMinhashMd5Capped,
    qDedupMinhashMd5Stop,
    qDedupSimhash, qDedupSimhashMd5,
    qDedupClusters, qDedupCrossmodal, qDedupCrossmodalStream,
    qLeakageSplit, qCorpusDedup, qSpanDedup,
    qDedupSubstrings,
    qDupReport, qDedupSubstringsInc, qDedupIncremental,
    qSpanDedupStream, qDedupSubstringsStream, qCanonicalDedupStream,
    qSimhashDedupStream,
    qDedupEmbedding, qDedupEmbeddingExact, qDedupSemantic,
    qDedupSemanticGrid, qMediaFeatures, qMediaEmbedTopk,
    qMediaAudioFeatures, qMediaAudioTopk,
    qMediaVideoFeatures, qMediaVideoTopk,
    qMediaImageInt, qMediaAudioInt, qMediaVideoInt, qMediaVideoIntStream,
    qMixDomains, qTopTerms,
    qSessionize, qSessionizeStream, qScoreStream, qAsofJoin, qRangeJoin,
    qGopherQuality, qSampleStratified, qDomainFilter, qDecontaminate,
    qDecontaminateBloom, qDecontaminateBloomMd5, qDecontaminateContainment,
    qDecontaminateFuzzy,
    qDecontaminateFuzzyStream, qDecontaminateStream,
    qLinkGraph, qLinkGraphStream, qAnchorStats, qPagerank,
    qPagerankStream, qHits, qTriangles,
    qCrawlFrontier, qFetchSchedule, qBm25Topk, qBm25ServeStream,
    qHybridTopk, qHybridTopkBrute, qHybridServeStream, qPostings,
    qLineDedup, qLineDedupStream,
    qHitsStream, qTrianglesStream,
    qKmeansClusters, qKmeansStats, qClusterSample, qKmeansStream,
    qClusterMix, qClusterPurity, qClusterBudget, qShuffleEpoch,
    qShuffleInterleave,
    qHeavyHitters, qHeavyHittersStream,
    qPiiRedact, qExtractHtml, qExtractHtmlStream, qParseJsonl,
    qParseJsonlStream, qParseWarc, qParseWarcStream, qParseSitemap,
    qUrlParse, qUrlDedup, qRobotsGate, qRepetitionFilter, qBpePairs,
    qNormalizeText, qCorpusProfile, qCollocations, qWeightedSample, qDsirSelect,
    qQualityClassifier, qQualityClassifierStream, qQualityRank, qEmbedCentroid, qBpeTrain, qBpeApply, qCanonicalDedup,
    qSimDiverse, qCorpusDiff, qDedupEval, qDomainApprox, qDomainApproxKmv,
    qChunkOverlap, qLengthBuckets, qSourceOverlap,
    qDupNgrams, qUnigramLogprob, qLmCrossEntropy, qDomainPpl, qTokenBudget,
    qPackSequences, qPackManifest, qCorpusPipeline, qPretrainPipeline,
    qWebPipeline, qCrawlPipeline,
    qZorderKey, qMixQuality,
    qScalerFit, qMlPreproc, qMlPcaRecon, qMlIforest, qMlLof, qMlLofLsh,
    qMlEnsemble, qMlSplit, qScoreFallback)
}
