package perfbench

/** Order statistics and interval arithmetic shared by every workload.
  * Times are epoch milliseconds as doubles; intervals are half-open
  * `[start, end)`. */
object Stats {

  /** Candidate percentiles in per-mille, lowest first. */
  val PerMille: Seq[Int] = Seq(500, 900, 950, 990, 999)

  /** 1-based nearest rank of per-mille `pm` in `n` samples. */
  private def rank(n: Int, pm: Int): Int =
    math.max(1, ((pm.toLong * n + 999) / 1000).toInt)

  /** Nearest-rank percentile (per-mille `pm`) of `xs`. */
  def percentile(xs: Seq[Double], pm: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size, rank(s.size, pm)) - 1)
  }

  /** Median; the mean of the two middle samples when `n` is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest candidate percentile that leaves at least ten samples
    * beyond its rank, or None when `n` is too small for even the
    * median to qualify. */
  def tailPerMille(n: Int): Option[Int] =
    PerMille.filter(pm => n - rank(n, pm) >= 10).lastOption

  /** `pm` if it leaves ten samples beyond it, else the highest candidate
    * that does (the median as a last resort). */
  def boundedPerMille(n: Int, pm: Int): Int =
    tailPerMille(n).map(math.min(_, pm)).getOrElse(500)

  /** Length of the union of `ivs`, clipped to `[lo, hi)`. */
  def covered(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var total = 0.0
    var cs = Double.NaN
    var ce = Double.NaN
    clipped.foreach { case (s, e) =>
      if (cs.isNaN) { cs = s; ce = e }
      else if (s <= ce) ce = math.max(ce, e)
      else { total += ce - cs; cs = s; ce = e }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Time in `[lo, hi)` during which none of `busy` is running. */
  def idle(lo: Double, hi: Double, busy: Iterable[(Double, Double)]): Double =
    (hi - lo) - covered(busy, lo, hi)

  /** Rank-based ROC AUC (ties share their average rank). */
  def auc(scores: Seq[Double], positive: Seq[Boolean]): Double = {
    require(scores.size == positive.size)
    val nPos = positive.count(identity).toDouble
    val nNeg = positive.size - nPos
    require(nPos > 0 && nNeg > 0, "AUC needs both classes")
    val order = scores.indices.sortBy(scores)
    val ranks = new Array[Double](scores.size)
    var i = 0
    while (i < order.size) {
      var j = i
      while (j + 1 < order.size && scores(order(j + 1)) == scores(order(i))) j += 1
      val r = (i + j) / 2.0 + 1.0
      (i to j).foreach(t => ranks(order(t)) = r)
      i = j + 1
    }
    val posRankSum = scores.indices.filter(positive).map(ranks).sum
    (posRankSum - nPos * (nPos + 1) / 2.0) / (nPos * nNeg)
  }
}
