package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ml._

/** Metamorphic tests for the ML operators (SURVEY §5.2.4): no exact
  * oracle exists, so we assert ranking/shape properties on data with
  * planted anomalies, plus determinism under the fixed seed. */
class MlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 500 points near the origin + 10 planted far outliers, seeded. */
  private lazy val planted = {
    val rnd = new scala.util.Random(42)
    val normal = (0 until 500).map { i =>
      (i.toLong, Seq.fill(4)(rnd.nextGaussian() * 0.5), false)
    }
    val outliers = (500 until 510).map { i =>
      (i.toLong, Seq.fill(4)(10.0 + rnd.nextGaussian()), true)
    }
    (normal ++ outliers).toDF("id", "features", "is_anomaly")
  }

  test("ae threshold: approx sketch and md5-sampled twin both track the exact " +
       "percentile within 5%") {
    val sf = "/root/testdata/sf0.01"
    def one(name: String): Double =
      SparkEntry.queries(name)(spark, sf).head.getDouble(0)
    val exact = one("q_ae_threshold")
    val approx = one("q_ae_threshold_approx")
    val sampled = one("q_ae_threshold_sample")
    info(s"exact=$exact approx=$approx sampled=$sampled")
    assert(math.abs(approx / exact - 1) <= 0.05,
      s"approx_percentile off by ${math.abs(approx / exact - 1)}")
    assert(math.abs(sampled / exact - 1) <= 0.05,
      s"md5-sampled quantile off by ${math.abs(sampled / exact - 1)}")
  }

  test("preproc: scaled numerics have ~zero mean / unit variance; one-hot block sums to 1") {
    val df = Seq(
      (1.0, "a"), (2.0, "b"), (3.0, "a"), (4.0, "c"), (5.0, "b"))
      .toDF("x", "c")
    val model = Preproc.fit(df, Seq("x"), Seq("c"))
    assert(model.dim == 4)  // 1 numeric + 3 categories
    assert(model.featureNames == Seq("x", "c=a", "c=b", "c=c"))
    val feats = model.transform(df)
    val stats = feats.select(
      avg(element_at(col("features"), 1)).as("m"),
      stddev_pop(element_at(col("features"), 1)).as("s")).head
    assert(math.abs(stats.getDouble(0)) < 1e-12)
    assert(math.abs(stats.getDouble(1) - 1.0) < 1e-12)
    val oheSum = feats.select(
      (element_at(col("features"), 2) + element_at(col("features"), 3) +
        element_at(col("features"), 4)).as("s")).collect()
    assert(oheSum.forall(_.getDouble(0) == 1.0))
  }

  test("preproc: unseen category one-hots to all-zero (handle_unknown=ignore)") {
    val train = Seq((1.0, "a"), (2.0, "b")).toDF("x", "c")
    val model = Preproc.fit(train, Seq("x"), Seq("c"))
    val unseen = Seq((1.5, "zzz")).toDF("x", "c")
    val f = model.transform(unseen).select("features").head.getSeq[Double](0)
    assert(f.drop(1) == Seq(0.0, 0.0))
  }

  test("iforest: planted anomalies score below organic rows (more negative decision)") {
    val model = IsolationForest.fit(planted, "features", nTrees = 100, subsample = 128)
    val scored = planted.withColumn("s", model.decisionCol(col("features")))
    val meanOut = scored.filter(col("is_anomaly")).agg(avg("s")).head.getDouble(0)
    val meanIn = scored.filter(!col("is_anomaly")).agg(avg("s")).head.getDouble(0)
    assert(meanOut < meanIn, s"outliers $meanOut should score below inliers $meanIn")
    // recall@10: the 10 lowest decision scores are exactly the planted ones
    val worst = scored.orderBy(col("s").asc).limit(10)
      .select("is_anomaly").collect().count(_.getBoolean(0))
    assert(worst >= 8, s"recall@10 = $worst/10")
  }

  test("iforest: decision offset puts ~contamination fraction below zero on training data") {
    val model = IsolationForest.fit(planted, "features",
      nTrees = 100, subsample = 128, contamination = 0.05)
    val below = planted.withColumn("s", model.decisionCol(col("features")))
      .filter(col("s") < 0).count().toDouble / planted.count()
    assert(below > 0.01 && below < 0.15, s"fraction below offset: $below")
  }

  test("iforest: deterministic under fixed seed") {
    val m1 = IsolationForest.fit(planted, "features", nTrees = 50, subsample = 64)
    val m2 = IsolationForest.fit(planted, "features", nTrees = 50, subsample = 64)
    val s1 = planted.select(m1.scoreSamplesCol(col("features"))).collect().map(_.getDouble(0))
    val s2 = planted.select(m2.scoreSamplesCol(col("features"))).collect().map(_.getDouble(0))
    assert(s1.sameElements(s2))
  }

  test("pca recon: planted anomalies have higher reconstruction error") {
    val model = PcaRecon.fit(planted.filter(!col("is_anomaly")), "features", 2)
    val scored = planted.withColumn("e", model.scoreCol(col("features")))
    val meanOut = scored.filter(col("is_anomaly")).agg(avg("e")).head.getDouble(0)
    val meanIn = scored.filter(!col("is_anomaly")).agg(avg("e")).head.getDouble(0)
    assert(meanOut > meanIn)
  }

  test("pca recon: k=d reconstructs almost exactly (error ~ 0)") {
    val df = planted.filter(!col("is_anomaly"))
    val model = PcaRecon.fit(df, "features", 4)
    val maxErr = df.select(model.scoreCol(col("features")).as("e"))
      .agg(max("e")).head.getDouble(0)
    assert(maxErr < 1e-9, s"full-rank PCA should reconstruct, got $maxErr")
  }

  test("pca recon: two fits over 16 partitions give == components and moment sums") {
    val rnd = new scala.util.Random(5)
    // magnitudes over nine decades: any change in the order partial
    // sums merge in shows in the last bits
    val df = (0 until 4000).map { i =>
      (i.toLong, Seq.fill(6)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 3)))
    }.toDF("id", "features").repartition(16).localCheckpoint()
    assert(df.rdd.getNumPartitions == 16)
    val fits = (1 to 3).map(_ => PcaRecon.fit(df, "features", 3))
    fits.tail.foreach { f =>
      assert(f.components.map(_.toSeq).toSeq == fits.head.components.map(_.toSeq).toSeq)
    }
    val (n1, sum1, outer1) = PcaRecon.momentSums(df, "features")
    val (n2, sum2, outer2) = PcaRecon.momentSums(df, "features")
    assert(n1 == 4000 && n2 == 4000)
    assert(sum1.toSeq == sum2.toSeq)
    assert(outer1.map(_.toSeq).toSeq == outer2.map(_.toSeq).toSeq)
  }

  test("lof exact: planted outliers get LOF >> 1, inliers ~ 1") {
    val sample = planted.filter(col("id") % 2 === 0 || col("is_anomaly"))
    val lof = Lof.exact(sample, "id", "features", 10)
      .join(sample.select(col("id"), col("is_anomaly")), Seq("id"))
    val meanOut = lof.filter(col("is_anomaly")).agg(avg("lof")).head.getDouble(0)
    val meanIn = lof.filter(!col("is_anomaly")).agg(avg("lof")).head.getDouble(0)
    assert(meanOut > 2.0, s"outlier LOF $meanOut")
    assert(meanIn < 1.5, s"inlier LOF $meanIn")
  }

  test("lof novelty: unseen outliers score far below unseen inliers") {
    val rnd = new scala.util.Random(7)
    val train = planted.filter(!col("is_anomaly"))
    val model = Lof.fitNovelty(train, "id", "features", k = 10)
    val unseen = Seq(
      (10001L, Seq.fill(4)(rnd.nextGaussian() * 0.5), false),
      (10002L, Seq.fill(4)(12.0 + rnd.nextGaussian()), true))
      .toDF("id", "features", "is_anomaly")
    val scored = unseen.withColumn("s", model.scoreCol(col("features")))
      .collect().map(r => r.getBoolean(2) -> r.getDouble(3)).toMap
    // score = -LOF: inlier ~ -1, outlier much more negative
    assert(scored(false) > -1.5, s"inlier ${scored(false)}")
    assert(scored(true) < -3.0, s"outlier ${scored(true)}")
  }

  test("lof: row count preserved by the 3-pass agg chain") {
    val sample = planted.limit(100)
    val lof = Lof.exact(sample, "id", "features", 5)
    assert(lof.count() == 100)
  }

  test("lof full-slice agreement: exact vs LSH and exact vs novelty, pinned floors") {
    // The declared ml_lof scores the FULL events slice with the
    // novelty model; ml_lof_lsh is the transductive LSH twin. This
    // pins both against brute-force exact LOF on the complete
    // sf0.001 slice (1000 rows, 17 dims) — rank agreement over the
    // whole population plus top-1% outlier overlap, not small-N parity.
    val (_, feats) = ml.Features.preprocessedEvents(spark, "/root/testdata/sf0.001")
    val fe = feats.select(col("event_id").as("id"),
      col("features").cast("array<double>").as("f")).cache()
    val n = fe.count()
    assert(n == 1000L)
    def toMap(df: org.apache.spark.sql.DataFrame, c: String): Map[Long, Double] =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Double](c)).toMap
    val exact = toMap(Lof.exact(fe, "id", "f", 20), "lof")
    val radius = Lof.estimateRadius(fe, "id", "f", 25, n)
    val lsh = toMap(Lof.fromNeighbors(
      Lof.lshNeighbors(fe, "id", "f", 20, radius, bucketCap = 512)), "lof")
    val model = Lof.fitNovelty(fe, "id", "f", k = 20)
    // scoreCol returns -LOF (sklearn convention); negate back for ranks
    val novelty = fe.select(col("id"), (-model.scoreCol(col("f"))).as("s"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("s")).toMap
    fe.unpersist()

    def spearman(a: Map[Long, Double], b: Map[Long, Double]): Double = {
      val keys = (a.keySet intersect b.keySet).toSeq
      def ranks(m: Map[Long, Double]): Map[Long, Double] = {
        val sorted = keys.sortBy(m)
        // average ranks over ties so duplicate scores don't bias
        sorted.zipWithIndex.groupBy { case (k, _) => m(k) }.values.flatMap { g =>
          val avg = g.map(_._2).sum.toDouble / g.size
          g.map { case (k, _) => k -> avg }
        }.toMap
      }
      val ra = ranks(a); val rb = ranks(b)
      val ma = ra.values.sum / keys.size; val mb = rb.values.sum / keys.size
      val cov = keys.map(k => (ra(k) - ma) * (rb(k) - mb)).sum
      val va = keys.map(k => math.pow(ra(k) - ma, 2)).sum
      val vb = keys.map(k => math.pow(rb(k) - mb, 2)).sum
      cov / math.sqrt(va * vb)
    }
    def topOverlap(a: Map[Long, Double], b: Map[Long, Double], k: Int): Int = {
      val ta = a.toSeq.sortBy(-_._2).take(k).map(_._1).toSet
      val tb = b.toSeq.sortBy(-_._2).take(k).map(_._1).toSet
      (ta intersect tb).size
    }
    val covLsh = lsh.size.toDouble / n
    val sLsh = spearman(exact, lsh)
    val sNov = spearman(exact, novelty)
    val oLsh = topOverlap(exact, lsh, 10)
    val oNov = topOverlap(exact, novelty, 10)
    info(f"coverage(lsh)=$covLsh%.4f spearman(lsh)=$sLsh%.4f spearman(novelty)=$sNov%.4f " +
      s"top1pct(lsh)=$oLsh/10 top1pct(novelty)=$oNov/10")
    // floors pinned from the r7 measurement (1.0000 / 0.9628 / 0.9973 /
    // 7 / 9) with margin for radius-estimate drift
    assert(covLsh >= 0.99, s"LSH covered only $covLsh of the slice")
    assert(sLsh >= 0.90, f"exact-vs-LSH rank correlation $sLsh%.4f under floor")
    assert(sNov >= 0.95, f"exact-vs-novelty rank correlation $sNov%.4f under floor")
    assert(oLsh >= 6, s"top-1% overlap exact-vs-LSH $oLsh/10 under floor")
    assert(oNov >= 8, s"top-1% overlap exact-vs-novelty $oNov/10 under floor")
  }
}
