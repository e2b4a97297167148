package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import graft.ml.{IForestModel, IsolationForest, LofNoveltyModel, PcaReconModel}

/** The retired Scala-UDF scorers of the three ensemble models — the
  * differential reference NativeExprSpec holds the native expressions
  * (`IForestScoreSamples`, `LofNoveltyScore`, `PcaReconScore`) to,
  * bit for bit. They read only public model fields; no query path
  * uses them. */
object UdfScorers extends Serializable {

  /** sklearn `score_samples` over the unflattened trees, `c(size)`
    * recomputed per tree per row (`IForestModel.scoreSamplesCol`). */
  def scoreSamplesUdfCol(model: IForestModel, features: Column): Column = {
    val ts = model.trees; val cPsi = IsolationForest.c(model.psi)
    val f = udf { (x: Seq[Double]) =>
      val xa = x.toArray
      var total = 0.0
      var t = 0
      while (t < ts.length) {
        val tr = ts(t)
        var node = 0; var depth = 0.0
        while (tr.feature(node) >= 0) {
          node = if (xa(tr.feature(node)) < tr.threshold(node)) tr.left(node)
                 else tr.right(node)
          depth += 1.0
        }
        total += depth + IsolationForest.c(tr.size(node))
        t += 1
      }
      -math.pow(2.0, -(total / ts.length) / cPsi)
    }
    f(features)
  }

  /** −LOF(x) with a k-max-heap over the reference points
    * (`LofNoveltyModel.scoreCol`). */
  def scoreColUdf(model: LofNoveltyModel, features: Column): Column = {
    val pts = model.points; val kd = model.kdist; val lr = model.lrd; val kk = model.k
    val f = udf { (x: Seq[Double]) =>
      val xa = x.toArray
      val n = pts.length
      val heapD = new Array[Double](kk); val heapI = new Array[Int](kk)
      var filled = 0
      var i = 0
      while (i < n) {
        val p = pts(i)
        var s = 0.0; var j = 0
        while (j < p.length) { val d0 = xa(j) - p(j); s += d0 * d0; j += 1 }
        val d = math.sqrt(s)
        if (filled < kk) {
          heapD(filled) = d; heapI(filled) = i; filled += 1
          if (filled == kk) { // build max-heap
            var m = kk / 2 - 1
            while (m >= 0) { siftDown(heapD, heapI, m, kk); m -= 1 }
          }
        } else if (d < heapD(0)) {
          heapD(0) = d; heapI(0) = i; siftDown(heapD, heapI, 0, kk)
        }
        i += 1
      }
      val m = filled
      var reachSum = 0.0; var lrdSum = 0.0
      var t = 0
      while (t < m) {
        val o = heapI(t)
        reachSum += math.max(heapD(t), kd(o))
        lrdSum += lr(o)
        t += 1
      }
      val lrdX = 1.0 / (reachSum / m + 1e-10)
      -(lrdSum / m) / lrdX
    }
    f(features)
  }

  /** ‖x − V Vᵀ x‖² / d over the component rows
    * (`PcaReconModel.scoreCol`). */
  def scoreColUdf(model: PcaReconModel, features: Column): Column = {
    val comp = model.components // (k rows, each of length d)
    val dd = model.d
    val f = udf { (x: Seq[Double]) =>
      val xa = x.toArray
      val proj = new Array[Double](comp.length)
      var j = 0
      while (j < comp.length) {
        val row = comp(j); var i = 0; var s = 0.0
        while (i < dd) { s += row(i) * xa(i); i += 1 }
        proj(j) = s; j += 1
      }
      var err = 0.0; var i = 0
      while (i < dd) {
        var r = 0.0; var jj = 0
        while (jj < comp.length) { r += comp(jj)(i) * proj(jj); jj += 1 }
        val e = xa(i) - r; err += e * e; i += 1
      }
      err / dd
    }
    f(features)
  }

  private def siftDown(d: Array[Double], ix: Array[Int], start: Int, len: Int): Unit = {
    var root = start
    while (2 * root + 1 < len) {
      var child = 2 * root + 1
      if (child + 1 < len && d(child + 1) > d(child)) child += 1
      if (d(root) >= d(child)) return
      val td = d(root); d(root) = d(child); d(child) = td
      val ti = ix(root); ix(root) = ix(child); ix(child) = ti
      root = child
    }
  }
}
