package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reconstruction-error anomaly scorer — the principled distributed
  * substitution for the reference's Keras dense autoencoder
  * (`train.py:18-28,80-88`; SURVEY §2.8 `ml_autoencoder`): a linear
  * autoencoder trained by SVD (MLlib PCA) instead of SGD. Identical
  * semantics — per-row reconstruction MSE as the anomaly score, P97.5
  * validation threshold — with a deterministic, shuffle-light trainer.
  *
  * Scoring is a native codegen expression over the component matrix
  * (k·d doubles — constant-size model state, SURVEY §4.3);
  * everything else stays declarative.
  */
final case class PcaReconModel(components: Array[Array[Double]], d: Int, k: Int) {

  /** score = ‖x − V Vᵀ x‖² / d  (per-row mean squared reconstruction
    * error, `model_wrapper.py:44-49`) as a native expression
    * (`functions.PcaReconScore`) whose loop runs in a static helper
    * (`ScoreKernels.pca`) called from generated code, so HotSpot
    * compiles it on its own — bit-identical to the retired UDF, which
    * the test tree keeps in `UdfScorers` as NativeExprSpec's reference. */
  def scoreCol(features: Column): Column = {
    val flat = new Array[Double](k * d)
    var j = 0
    while (j < k) { System.arraycopy(components(j), 0, flat, j * d, d); j += 1 }
    graft.functions.ArrayMath.pcaReconScore(features, flat, d, k)
  }
}

object PcaRecon {

  /** Fit top-k principal components of `featuresCol` (array<double>).
    *
    * The covariance comes from `momentSums` (one job, d² state, no
    * shuffle of rows); its eigendecomposition runs on the driver with
    * a cyclic Jacobi iteration. We deliberately do NOT use MLlib's PCA
    * here: it routes the d×d SVD through F2J LAPACK `dgesdd`, whose
    * `dlascl` scaling loop can spin forever (observed: 20 min of CPU on
    * an 18×18 matrix during a concurrent fit). Jacobi on a small
    * symmetric matrix is exact and loop-bounded, and the moment sums
    * are merged in a fixed order, so the whole fit is deterministic:
    * two fits over the same partitioning give `==` components. */
  def fit(df: DataFrame, featuresCol: String, k: Int): PcaReconModel = {
    val (n, sum, outer) = momentSums(df, featuresCol)
    require(n > 1, s"need >1 row to fit PCA, got $n")
    val d = sum.length
    val kk = math.min(k, d)
    // covariance (population): E[xxᵀ] − μμᵀ; NaN-guarded to 0 so a bad
    // column can never wedge the eigensolver
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      val c = outer(a)(b) / n - (sum(i) / n) * (sum(j) / n)
      if (c.isNaN || c.isInfinite) 0.0 else c
    }
    val (eigVals, eigVecs) = jacobiEigSym(cov)
    val order = eigVals.zipWithIndex.sortBy(-_._1).map(_._2).take(kk)
    val comps = order.map(c => Array.tabulate(d)(i => eigVecs(i)(c)))
    PcaReconModel(comps, d, kk)
  }

  /** (row count, per-column sums, upper triangle of Σ x·xᵀ) of
    * `featuresCol` in one job: each partition folds its rows to a
    * partial, and the driver merges the partials in partition order.
    * Merged in task-completion order, as `treeAggregate` does, the
    * floating sums would differ in their last bits between runs. */
  private[graft] def momentSums(df: DataFrame, featuresCol: String)
      : (Long, Array[Double], Array[Array[Double]]) = {
    type Moments = (Long, Array[Double], Array[Array[Double]])
    val zero: Moments = (0L, null, null)
    val add: (Moments, Array[Double]) => Moments = {
      case ((cnt, s0, m0), x) =>
        val d = x.length
        val s = if (s0 == null) new Array[Double](d) else s0
        val m = if (m0 == null) Array.ofDim[Double](d, d) else m0
        var i = 0
        while (i < d) {
          s(i) += x(i)
          var j = i
          while (j < d) { m(i)(j) += x(i) * x(j); j += 1 }
          i += 1
        }
        (cnt + 1, s, m)
    }
    val merge: (Moments, Moments) => Moments = {
      case ((c1, s1, m1), (c2, s2, m2)) =>
        if (s1 == null) (c2, s2, m2)
        else if (s2 == null) (c1, s1, m1)
        else {
          var i = 0
          while (i < s1.length) {
            s1(i) += s2(i)
            var j = i
            while (j < s1.length) { m1(i)(j) += m2(i)(j); j += 1 }
            i += 1
          }
          (c1 + c2, s1, m1)
        }
    }
    df.select(col(featuresCol)).rdd
      .mapPartitions(rows => Iterator(
        rows.map(_.getSeq[Double](0).toArray).foldLeft(zero)(add)))
      .collect() // in partition order
      .foldLeft(zero)(merge)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * returns (eigenvalues, eigenvector-columns V with A = V Λ Vᵀ).
    * Bounded sweeps; converges quadratically for small d. */
  private[ml] def jacobiEigSym(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val m = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var converged = false
    while (sweep < 64 && !converged) {
      var off = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { off += m(i)(j) * m(i)(j); j += 1 }
        i += 1
      }
      if (off <= 1e-20) converged = true
      else {
        var p = 0
        while (p < d) {
          var q = p + 1
          while (q < d) {
            val apq = m(p)(q)
            if (math.abs(apq) > 1e-18) {
              val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
              val t =
                if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                else 1.0 / (theta - math.sqrt(theta * theta + 1.0))
              val c = 1.0 / math.sqrt(t * t + 1.0)
              val s = t * c
              var kx = 0
              while (kx < d) {
                if (kx != p && kx != q) {
                  val akp = m(kx)(p); val akq = m(kx)(q)
                  m(kx)(p) = c * akp - s * akq; m(p)(kx) = m(kx)(p)
                  m(kx)(q) = s * akp + c * akq; m(q)(kx) = m(kx)(q)
                }
                kx += 1
              }
              val app = m(p)(p); val aqq = m(q)(q)
              m(p)(p) = c * c * app - 2.0 * s * c * apq + s * s * aqq
              m(q)(q) = s * s * app + 2.0 * s * c * apq + c * c * aqq
              m(p)(q) = 0.0; m(q)(p) = 0.0
              kx = 0
              while (kx < d) {
                val vkp = v(kx)(p); val vkq = v(kx)(q)
                v(kx)(p) = c * vkp - s * vkq
                v(kx)(q) = s * vkp + c * vkq
                kx += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
    }
    (Array.tabulate(d)(i => m(i)(i)), v)
  }
}
