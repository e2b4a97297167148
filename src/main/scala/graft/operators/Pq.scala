package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Product quantization (PQ) approximate nearest neighbour — the
  * MEMORY-bound scale path for embedding search, orthogonal to the
  * candidate-bounding paths (`VectorLsh` bounds by bucket collisions,
  * `Ivf` bounds by probed cells): the corpus is compressed to `m`
  * small codes per vector (Jégou et al. 2011, "Product quantization
  * for nearest neighbor search"), so the scan/shuffle moves m bytes
  * instead of dim·4 — at 64-dim float vs m=8, a 32× reduction in
  * corpus bytes, which is what a 100 TB embedding store is actually
  * bounded by. Distances are computed asymmetrically (ADC): each query
  * precomputes an m×ksub lookup table of subspace distances to every
  * codebook centroid, and a corpus row costs m table lookups instead
  * of dim multiplies.
  *
  * Spark shape: codebooks are CONSTANT-SIZE driver model state (per-
  * subspace Lloyd's on a deterministic sample, the `Ivf.fitCentroids`
  * pattern); encoding is a pure codegen expression (per-subspace
  * argmin over ksub literal centroids); the query-side LUT is a
  * per-query-row array expression (m·ksub subspace distances — query
  * count is small); scoring joins the broadcast queries against the
  * codes-only corpus scan and ranks by the ADC distance — no UDF
  * anywhere, the whole pipeline stays in whole-stage codegen.
  * Compose with `Ivf` cells for the classic IVF-PQ layout (cells bound
  * candidates, codes bound bytes); kept separate here so each axis is
  * testable alone.
  */
object Pq {

  /** Codebooks: `codebooks(s)(c)` = centroid c (length dsub) of
    * subspace s. dim = m · dsub. */
  final case class Model(m: Int, ksub: Int, dsub: Int,
                         codebooks: Array[Array[Array[Double]]])

  /** Per-subspace Lloyd's k-means on a deterministic driver sample
    * (hash-ordered `limit sampleSize` — constant-size, corpus-
    * independent, like `Ivf.fitCentroids`). Empty codes keep their
    * previous centroid. */
  def fit(emb: DataFrame, idCol: String, vecCol: String,
          m: Int, ksub: Int = 16, iters: Int = 10,
          sampleSize: Int = 4096): Model = {
    val pts = emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("f"))
      // hash-ordered sample, same rationale as Ivf.fitCentroids: an
      // id-ordered prefix is biased under clustered id layouts
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)
    require(pts.nonEmpty, "empty sample")
    val dim = pts(0).length
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    require(pts.length >= ksub, s"need >= $ksub sample points, got ${pts.length}")
    val dsub = dim / m
    val books = Array.tabulate(m) { s =>
      val off = s * dsub
      val sub = pts.map(p => java.util.Arrays.copyOfRange(p, off, off + dsub))
      var cent = Array.tabulate(ksub)(i => sub(i * sub.length / ksub).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.ofDim[Double](ksub, dsub)
        val counts = new Array[Int](ksub)
        sub.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < ksub) {
            var d2 = 0.0; var j = 0
            while (j < dsub) { val d = p(j) - cent(c)(j); d2 += d * d; j += 1 }
            if (d2 < bestD) { bestD = d2; best = c }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += p(j); j += 1 }
          counts(best) += 1
        }
        cent = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) cent(c)
          else Array.tabulate(dsub)(j => sums(c)(j) / counts(c))
        }
        it += 1
      }
      cent
    }
    Model(m, ksub, dsub, books)
  }

  /** md5-derived PORTABLE codebooks — the `VectorLsh.md5Planes` trick
    * applied to PQ: centroid component (s, c, j) is uniform[−scale,
    * scale) from the first 13 hex chars of md5("pq:s:c:j"), so a SQL
    * oracle re-derives the whole codebook and with it the encode
    * argmin, the query LUT, the ADC sum and the top-k — pinning the
    * PQ candidate algebra end to end (`sim_pq_topk_md5`). Fitted
    * k-means codebooks stay the production path (random codebooks
    * quantize badly); the twin pins ALGEBRA, not codebook quality,
    * exactly as the md5 planes pinned LSH. */
  def md5Model(dim: Int, m: Int, ksub: Int, scale: Double = 0.25): Model = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val hexScale = math.pow(16.0, 13)
    val books = Array.tabulate(m) { s =>
      Array.tabulate(ksub) { c =>
        Array.tabulate(dsub) { j =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(s"pq:$s:$c:$j".getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          val u = java.lang.Long.parseLong(hex.substring(0, 13), 16).toDouble / hexScale
          scale * (2.0 * u - 1.0)
        }
      }
    }
    Model(m, ksub, dsub, books)
  }

  private def subVec(vec: Column, model: Model, s: Int): Column =
    slice(vec, s * model.dsub + 1, model.dsub)

  /** Argmin over the subspace's ksub centroids — the native
    * `NearestCentroidCell` with a subspace offset (no slice, no
    * per-centroid literals; same rationale as `Ivf.cellCol`). */
  private[graft] def codeCol(vec: Column, model: Model, s: Int): Column =
    graft.functions.ArrayMath.nearestCell(vec, model.codebooks(s),
      offset = s * model.dsub)

  /** All m codes as one array<int> column. */
  def codesCol(vec: Column, model: Model): Column =
    array((0 until model.m).map(s => codeCol(vec, model, s)): _*)

  /** Corpus compressed to (nid, codes array<int>): the 100 TB
    * persisted form — m ints per vector, the original embedding column
    * is DROPPED from everything downstream. */
  def encode(emb: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame =
    emb.select(col(idCol).as("nid"),
        col(vecCol).cast("array<double>").as("__f"))
      .select(col("nid"), codesCol(col("__f"), model).as("codes"))

  /** The query-side ADC lookup table: a flat m·ksub array,
    * `lut[s·ksub + c]` = ‖query_sub_s − codebook_s(c)‖². */
  private def lutCol(qvec: Column, model: Model): Column =
    array((0 until model.m).flatMap(s =>
      model.codebooks(s).map(c =>
        graft.functions.ArrayMath.sqDiffSum(subVec(qvec, model, s),
          typedLit(c.toSeq)))): _*)

  /** ADC top-k over a PQ-encoded corpus: broadcast the (few) queries
    * with their LUTs, score every code row with m array lookups
    * (codegen `element_at`s — never a dim-length loop), rank per query
    * by approximate distance. Returns (query_id, neighbor_id,
    * approx_sqdist). Recall < 1 by construction (quantization error);
    * SimilaritySpec measures it against brute force. */
  /** The ADC distance expression — the native `AdcDistance` loop
    * (one pass over the m codes into the row's query LUT; replaced a
    * 2·m `element_at` chain that cost ~80 µs/row on the r5 soak,
    * `PLANS.md` "r5 scale soak"). Never a dim-length loop. */
  private def adcDist(model: Model): Column =
    graft.functions.ArrayMath.adcDistance(col("codes"), col("__lut"), model.ksub)

  def topk(encoded: DataFrame, queries: DataFrame, idCol: String,
           vecCol: String, k: Int, model: Model): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qf"))
      .withColumn("__lut", lutCol(col("__qf"), model))
      .select("query_id", "__lut")
    val scored = encoded.join(broadcast(q), col("nid") =!= col("query_id"))
      .select(col("query_id"), col("nid"), round(adcDist(model), 6).as("approx_sqdist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx_sqdist").asc, col("nid").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("nid").as("neighbor_id"), col("approx_sqdist"))
      .orderBy("query_id", "neighbor_id")
  }

  /** IVF-PQ — both scale axes composed (the classic billion-scale ANN
    * layout): IVF cells bound WHICH rows a query touches (~nprobe/
    * nlist of the corpus), PQ codes bound the BYTES each touched row
    * costs (m codes vs dim floats), ADC scores the candidates, and the
    * exact re-rank fetches full vectors for the shortlist only. The
    * corpus side is one scan computing (nid, cell, codes) — at 100 TB
    * it is persisted bucketed by cell (`Sources.writeBucketed`) with
    * the vector column kept ONLY in the side table the re-rank reads. */
  def topkIvfPq(emb: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, k: Int,
                centroids: Array[Array[Double]], nprobe: Int,
                model: Model, shortlist: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val corpus = emb.select(col(idCol).as("nid"),
        col(vecCol).cast("array<double>").as("__f"))
      .select(col("nid"), Ivf.cellCol(col("__f"), centroids).as("cell"),
              codesCol(col("__f"), model).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qf"))
      .withColumn("__lut", lutCol(col("__qf"), model))
      .withColumn("cell", explode(Ivf.probeCellsCol(col("__qf"), centroids, nprobe)))
      .select("query_id", "__lut", "cell")
    val scored = corpus.join(broadcast(q), Seq("cell"))
      .filter(col("nid") =!= col("query_id"))
      .select(col("query_id"), col("nid"), round(adcDist(model), 6).as("approx_sqdist"))
    val ws = Window.partitionBy("query_id")
      .orderBy(col("approx_sqdist").asc, col("nid").asc)
    val short = scored.withColumn("__rn", row_number().over(ws))
      .filter(col("__rn") <= shortlist)
      .select(col("query_id"), col("nid").as("neighbor_id"))
    val fv = emb.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__nf"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qf"))
    val cand = short.join(fv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(VectorOps.cosine(col("__qf"), col("__nf")), 6).as("cos"))
    val wr = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.withColumn("__rn", row_number().over(wr)).filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** The production PQ shape — ADC shortlist + exact re-rank: rank the
    * whole encoded corpus by the cheap ADC distance, keep a per-query
    * `shortlist`, fetch FULL vectors only for those shortlist·|queries|
    * rows, and exact-cosine re-rank to top-k. The corpus scan stays
    * m bytes/vector; quantization error only costs recall when a true
    * neighbor falls outside the shortlist (shortlist/k is the knob).
    * Returns (query_id, neighbor_id, cos). */
  def topkReranked(encoded: DataFrame, full: DataFrame, queries: DataFrame,
                   idCol: String, vecCol: String, k: Int, shortlist: Int,
                   model: Model): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val short = topk(encoded, queries, idCol, vecCol, shortlist, model)
      .select(col("query_id"), col("neighbor_id"))
    val fv = full.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__nf"))
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qf"))
    val cand = short.join(fv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(VectorOps.cosine(col("__qf"), col("__nf")), 6).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "neighbor_id")
  }
}
