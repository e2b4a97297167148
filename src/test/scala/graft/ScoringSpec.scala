package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scoring

/** Hand-computed expectations from the reference formulas
  * (`api/app.py:167-193`, `python_scoring/app.py:188-203`). */
class ScoringSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def eval(c: org.apache.spark.sql.Column): Double =
    Seq(1).toDF("x").select(c.cast("double")).head.getDouble(0)

  /** `__agg` of the staged gateway fusion over one row, model risk 0. */
  private def fuseOne(rule: Double, dev: Double, amount: Double): Double =
    Seq(1).toDF("x")
      .transform(Scoring.fuseGateway(lit(rule), lit(dev), lit(0.0), lit(amount), 10000.0))
      .select(col("__agg")).head.getDouble(0)

  test("rule score: 1500/card/Gweru/3am = min(0.6+0.3+0.2, 1) = 1.0") {
    val df = Seq((1500.0, "card", "Gweru", 3)).toDF("amount", "channel", "location", "hour")
    val r1 = Scoring.ruleLargeAmount(col("amount"), 1000.0)
    val r2 = Scoring.ruleCardLocation(col("channel"), col("location"), "card", Seq("Harare", "Bulawayo"))
    val r3 = Scoring.ruleOddHour(col("hour"))
    val got = df.select(Scoring.ruleScore(r1, r2, r3).as("r")).head.getDouble(0)
    assert(got == 1.0)
  }

  test("rule components: safe location and daytime hour contribute 0") {
    val df = Seq((500.0, "card", "Harare", 12)).toDF("amount", "channel", "location", "hour")
    val r1 = Scoring.ruleLargeAmount(col("amount"), 1000.0)
    val r2 = Scoring.ruleCardLocation(col("channel"), col("location"), "card", Seq("Harare", "Bulawayo"))
    val r3 = Scoring.ruleOddHour(col("hour"))
    val got = df.select(Scoring.ruleScore(r1, r2, r3).as("r")).head.getDouble(0)
    assert(got == 0.0)
  }

  test("deviation: (200-100)/(100+1e-9) ~ 1.0; zero avg -> 0") {
    val got = eval(Scoring.deviation(lit(200.0), lit(100.0)))
    assert(math.abs(got - 1.0) < 1e-9)
    assert(eval(Scoring.deviation(lit(200.0), lit(0.0))) == 0.0)
  }

  test("gateway fusion: rule=1, dev=1, no floor -> 0.525 Medium") {
    val got = fuseOne(rule = 1.0, dev = 1.0, amount = 1500.0)
    assert(math.abs(got - 0.525) < 1e-12)
    val risk = Seq(1).toDF("x").select(Scoring.riskLevel(lit(got))).head.getString(0)
    assert(risk == "Medium")
  }

  test("gateway fusion: amount >= 10000 floors score at 0.85 -> High") {
    assert(fuseOne(rule = 1.0, dev = 1.0, amount = 20000.0) == 0.85)
  }

  test("gateway fusion override: rule>=0.6 && base<0.4 -> 0.5") {
    // rule=0.6, dev=0: base = 0.45*0.6 = 0.27 < 0.4 -> overridden to 0.5
    assert(fuseOne(rule = 0.6, dev = 0.0, amount = 500.0) == 0.5)
  }

  test("worker fusion: .4*.2+.3*.3+.3*.4+.45*1 = 0.74 (unclipped variant)") {
    val agg = Scoring.fuseWorker(lit(1.0), lit(0.2), lit(0.3), lit(0.4))
    assert(math.abs(eval(agg) - 0.74) < 1e-12)
  }

  test("risk level boundaries: 0.7 High, 0.4 Medium, 0.39 Low") {
    val df = Seq(0.7, 0.4, 0.39).toDF("s")
    val got = df.select(Scoring.riskLevel(col("s"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("High", "Medium", "Low"))
  }

  test("inv-sigmoid: f(center) = 0.5 and monotone decreasing") {
    assert(math.abs(eval(Scoring.invSigmoid(lit(-0.1))) - 0.5) < 1e-12)
    val xs = Seq(-2.0, -1.0, 0.0, 1.0, 2.0).map(x => eval(Scoring.invSigmoid(lit(x))))
    assert(xs == xs.sorted.reverse, s"not decreasing: $xs")
    assert(xs.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("normAe clips to [0,1]") {
    assert(math.abs(eval(Scoring.normAe(lit(5.0), lit(10.0))) - 0.5) < 1e-9)
    assert(eval(Scoring.normAe(lit(20.0), lit(10.0))) == 1.0)
    assert(eval(Scoring.normAe(lit(-1.0), lit(10.0))) == 0.0)
  }

  test("gateway fusion stays in [0,1] over a deterministic sweep") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 500).map { _ =>
      (rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(),
       (rnd.nextDouble() - 0.5) * 20, rnd.nextDouble() * 20000)
    }
    val df = rows.toDF("rule", "i", "l", "a", "dev", "amt")
    val modelRisk = lit(0.4) * col("i") + lit(0.3) * col("l") + lit(0.3) * col("a")
    val bad = df
      .transform(Scoring.fuseGateway(col("rule"), col("dev"), modelRisk, col("amt"), 10000.0))
      .filter(col("__agg") < 0.0 || col("__agg") > 1.0).count()
    assert(bad == 0)
  }

  test("scoreTransactions: hand-computed scores over five shipped-threshold rows") {
    // customer 1 avg = (500 + 10000)/2 = 5250; customer 2 avg = (2000 + 200)/2 = 1100
    val tx = Seq(
      (1L, 1L, 500.0, "card", "Gweru", "2024-03-01 03:00:00", 0.0),      // card, unsafe, 3 am
      (2L, 1L, 10000.0, "online", "Harare", "2024-03-01 12:00:00", 0.0), // >= 10000 floor
      (3L, 2L, 2000.0, "card", "Harare", "2024-03-01 14:00:00", 0.0),    // rule 0.6 override
      (4L, 2L, 200.0, "CARD", "bulawayo", "2024-03-01 02:00:00", 0.8),   // model risk 0.8
      (5L, 3L, 1500.0, "card", "Gweru", "2024-03-01 03:00:00", 0.0))     // rule caps at 1
      .toDF("transaction_id", "customer_id", "amount", "channel", "location", "ts", "mr")
      .withColumn("timestamp", to_timestamp(col("ts")))
    val got = Pipelines.scoreTransactions(tx, modelRisk = col("mr"))
      .orderBy("transaction_id").collect()
      .map(r => (r.getAs[Double]("rule_score"), r.getAs[Double]("deviation_score"),
                 r.getAs[Double]("aggregated_score"), r.getAs[String]("risk_level")))
    val want = Seq(
      // r2 + r3 = 0.5; dev = -4750/5250; .45*.5 = 0.225, no override/floor
      (0.5, -0.904762, 0.225, "Low"),
      // r1 = 0.6; dev = 4750/5250; base .27 + .15*.452381 = 0.337857 -> 0.5 -> floor 0.85
      (0.6, 0.904762, 0.85, "High"),
      // r1 = 0.6 (safe location, daytime); dev = 900/1100; base 0.331364 < 0.4 -> 0.5
      (0.6, 0.818182, 0.5, "Medium"),
      // r3 = 0.2 (CARD at bulawayo is safe); dev < 0 clips to 0; .09 + .4*.8 = 0.41
      (0.2, -0.818182, 0.41, "Medium"),
      // min(0.6 + 0.3 + 0.2, 1) = 1; sole row of its customer, dev 0; .45
      (1.0, 0.0, 0.45, "Medium"))
    assert(got.length == want.length)
    got.zip(want).foreach { case ((r, d, a, l), (wr, wd, wa, wl)) =>
      assert(math.abs(r - wr) < 1e-9 && math.abs(d - wd) < 1e-9 && math.abs(a - wa) < 1e-9,
        s"got ($r, $d, $a), want ($wr, $wd, $wa)")
      assert(l == wl)
    }
  }
}
