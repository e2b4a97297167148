package graft.ml

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Isolation forest — custom, since MLlib has none (SURVEY §2.8
  * `ml_iforest`). Matches the reference's sklearn configuration
  * (`train.py:72-73`: n_estimators=200, contamination=0.01, seed=42)
  * and score conventions:
  *   anomaly s(x) = 2^(−E[h(x)] / c(ψ))
  *   score_samples(x) = −s(x)                (sklearn, in [−1, 0))
  *   decision_function(x) = score_samples(x) − offset,
  *     offset = P(contamination) of training score_samples.
  *
  * Scale design: iForest trees train on constant-size subsamples
  * (ψ=256), so fitting collects at most nTrees·ψ rows — constant-size
  * model state independent of table size (the classic iForest recipe;
  * Liu et al. 2008). Scoring attaches the forest as flat primitive
  * arrays to one native expression per row (IForestScoreSamples),
  * whose generated code calls the walk as a static helper
  * (`ScoreKernels.iforest`) so HotSpot compiles the loop on its own —
  * embarrassingly parallel, no shuffle.
  */
final case class ITree(
    feature: Array[Int],       // -1 → leaf
    threshold: Array[Double],
    left: Array[Int], right: Array[Int],
    size: Array[Int])

final case class IForestModel(trees: Array[ITree], psi: Int, offset: Double) {

  import IsolationForest.c

  /** Forest flattened to primitive arrays for the native scoring
    * expression: trees concatenated, child pointers absolute, each
    * leaf's c(size) precomputed (the UDF this replaces recomputed the
    * log-bearing c() per tree per row). */
  @transient private lazy val flat: (Array[Int], Array[Double], Array[Int],
      Array[Int], Array[Double], Array[Int]) = {
    val total = trees.iterator.map(_.feature.length).sum
    val feature = new Array[Int](total); val threshold = new Array[Double](total)
    val left = new Array[Int](total); val right = new Array[Int](total)
    val leafC = new Array[Double](total); val roots = new Array[Int](trees.length)
    var base = 0
    var t = 0
    while (t < trees.length) {
      val tr = trees(t); roots(t) = base
      var i = 0
      while (i < tr.feature.length) {
        val n = base + i
        feature(n) = tr.feature(i); threshold(n) = tr.threshold(i)
        left(n) = if (tr.left(i) < 0) -1 else base + tr.left(i)
        right(n) = if (tr.right(i) < 0) -1 else base + tr.right(i)
        leafC(n) = if (tr.feature(i) < 0) c(tr.size(i)) else 0.0
        i += 1
      }
      base += tr.feature.length; t += 1
    }
    (feature, threshold, left, right, leafC, roots)
  }

  /** sklearn `score_samples`: −2^(−E[h]/c(ψ)) — the walk over the
    * flattened forest runs in a static helper called from generated
    * code, so HotSpot compiles it on its own (see IForestScoreSamples).
    * Bit-identical to the retired UDF scorer, which the test tree keeps
    * in `UdfScorers` as NativeExprSpec's reference. */
  def scoreSamplesCol(features: Column): Column = {
    val (fe, th, lf, rt, lc, ro) = flat
    graft.functions.ArrayMath.iforestScore(features, fe, th, lf, rt, lc, ro, c(psi))
  }

  /** sklearn `decision_function`: score_samples − offset (negative ⇒
    * more anomalous than the contamination cutoff). */
  def decisionCol(features: Column): Column =
    scoreSamplesCol(features) - lit(offset)
}

object IsolationForest {

  private val EulerGamma = 0.5772156649015329

  /** Average unsuccessful-search path length in a BST of n nodes. */
  def c(n: Int): Double =
    if (n <= 1) 0.0
    else if (n == 2) 1.0
    else 2.0 * (math.log(n - 1.0) + EulerGamma) - 2.0 * (n - 1.0) / n

  private def buildTree(rows: Array[Array[Double]], rng: Random, maxDepth: Int): ITree = {
    val feature = ArrayBuffer[Int](); val threshold = ArrayBuffer[Double]()
    val left = ArrayBuffer[Int](); val right = ArrayBuffer[Int]()
    val size = ArrayBuffer[Int]()
    def leaf(n: Int): Int = {
      feature += -1; threshold += 0.0; left += -1; right += -1; size += n
      feature.length - 1
    }
    def grow(data: Array[Array[Double]], depth: Int): Int = {
      if (depth >= maxDepth || data.length <= 1) return leaf(data.length)
      val d = data(0).length
      // random feature with spread; give up after d attempts (ties/constant)
      var attempts = 0; var q = -1; var lo = 0.0; var hi = 0.0
      while (attempts < d && q < 0) {
        val cand = rng.nextInt(d)
        var mn = data(0)(cand); var mx = mn; var i = 1
        while (i < data.length) {
          val v = data(i)(cand)
          if (v < mn) mn = v; if (v > mx) mx = v; i += 1
        }
        if (mx > mn) { q = cand; lo = mn; hi = mx }
        attempts += 1
      }
      if (q < 0) return leaf(data.length)
      val split = lo + rng.nextDouble() * (hi - lo)
      val (l, r) = data.partition(_(q) < split)
      if (l.isEmpty || r.isEmpty) return leaf(data.length)
      val idx = leaf(0)  // placeholder, rewritten below
      feature(idx) = q; threshold(idx) = split
      val li = grow(l, depth + 1); val ri = grow(r, depth + 1)
      left(idx) = li; right(idx) = ri; size(idx) = data.length
      idx
    }
    grow(rows, 0)
    ITree(feature.toArray, threshold.toArray, left.toArray, right.toArray, size.toArray)
  }

  /** Fit on `featuresCol` (array<double>). Collects ≤ nTrees·ψ·1.2 rows
    * (constant-size); each tree draws a ψ-row subsample from the pool
    * with a seeded RNG — fully deterministic given the input. */
  def fit(df: DataFrame, featuresCol: String, nTrees: Int = 200,
          subsample: Int = 256, contamination: Double = 0.01,
          seed: Long = 42L): IForestModel = {
    val n = df.count()
    val target = nTrees.toLong * subsample
    val pool0 =
      if (n <= target) df.select(col(featuresCol)).collect()
      else df.select(col(featuresCol))
        .sample(withReplacement = false, math.min(1.0, target * 1.2 / n), seed)
        .collect()
    val pool = pool0.map(_.getSeq[Double](0).toArray)
    require(pool.nonEmpty, "empty training data")
    val rng = new Random(seed)
    val psi = math.min(subsample, pool.length)
    val maxDepth = math.ceil(math.log(psi.toDouble) / math.log(2.0)).toInt
    val idx = Array.range(0, pool.length)
    val trees = Array.fill(nTrees) {
      // partial Fisher-Yates: ψ distinct rows per tree (sampling
      // without replacement, as in the classic algorithm)
      var i = 0
      while (i < psi) {
        val j = i + rng.nextInt(pool.length - i)
        val t = idx(i); idx(i) = idx(j); idx(j) = t
        i += 1
      }
      buildTree(Array.tabulate(psi)(k => pool(idx(k))), rng, maxDepth)
    }
    val pre = IForestModel(trees, psi, 0.0)
    // offset = P(contamination·100) of training score_samples —
    // approx percentile (order-stable sketch) so fit never sorts the
    // full table at scale.
    val offset = df.select(pre.scoreSamplesCol(col(featuresCol)).as("s"))
      .agg(expr(s"percentile_approx(s, $contamination, 10000)")).head().getDouble(0)
    pre.copy(offset = offset)
  }
}
