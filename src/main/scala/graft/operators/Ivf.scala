package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** IVF (inverted-file) approximate nearest neighbour — the coarse-
  * quantizer scale path for embedding similarity search, complementing
  * the AND-OR LSH variant (`VectorLsh`): k-means centroids partition
  * the corpus into `nlist` cells; a query probes its `nprobe` nearest
  * cells and exact-ranks only those candidates, so per-query cost is
  * ~`nprobe/nlist` of the corpus instead of all of it.
  *
  * Spark shape: centroids are CONSTANT-SIZE model state (fit on a
  * deterministic driver-collected sample, like `Lof.fitNovelty`'s
  * reference set); cell assignment is a pure codegen expression
  * (per-centroid `ArraySquaredDiffSum` + `array_min` over (dist, idx)
  * structs — no UDF); the candidate join is an equi-join on the cell
  * id, i.e. ONE shuffle keyed by a small int. At 100 TB the assigned
  * corpus would be written bucketed by `ivf_cell` once and probed
  * shuffle-free thereafter.
  */
object Ivf {

  /** Lloyd's k-means on a deterministic sample, iterated in primitive
    * driver arrays — centroid fit cost is O(sample·nlist·dim·iters),
    * independent of corpus size. Empty cells keep their previous
    * centroid (deterministic).
    *
    * The sample is HASH-ordered (`orderBy(xxhash64(id))`), not
    * id-ordered: the r5 soak planted an 8.7k-vector dense cluster at
    * the LOW end of the id space and `orderBy(id) limit 4096` fed
    * k-means nothing but that cluster — 16 near-identical centroids,
    * near-arbitrary cell assignment for the rest of the corpus, and a
    * shared-centroid `semanticDedup` whose every cell filled to
    * cellCap. Hash order is just as deterministic and stays unbiased
    * under ANY id layout (time-ordered ingest, clustered appends). */
  def fitCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   nlist: Int, iters: Int = 10,
                   sampleSize: Int = 4096): Array[Array[Double]] = {
    val pts = hashOrderedSample(emb, idCol, vecCol, sampleSize)
    require(pts.length >= nlist, s"need >= $nlist sample points, got ${pts.length}")
    lloyd(pts, nlist, iters)
  }

  private def hashOrderedSample(emb: DataFrame, idCol: String, vecCol: String,
                                sampleSize: Int): Array[Array[Double]] =
    emb.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("f"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleSize)
      .collect().map(_.getSeq[Double](1).toArray)

  /** `fitCentroids` when the points are ALREADY driver-resident (a
    * fitted shard's flat vectors — r16): the hash-ordered sample is
    * selected with the engine's own XxHash64 fold over the ids, i.e.
    * bit-identically to `orderBy(xxhash64(id), id).limit(sampleSize)`
    * on a long id column, so the centroids equal the cluster-side
    * fit's without re-scanning and TakeOrdered-sorting the corpus a
    * second time for data the driver is already holding. */
  private[graft] def fitCentroidsFromArrays(
      ids: Array[Long], flatVecs: Array[Double], dim: Int,
      nlist: Int, iters: Int = 10, sampleSize: Int = 4096): Array[Array[Double]] = {
    val n = ids.length
    require(n >= nlist, s"need >= $nlist points, got $n")
    val order = Array.range(0, n)
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(ids(i), org.apache.spark.sql.types.LongType, 42L)
      i += 1
    }
    val sorted = order.sortBy(j => (hashes(j), ids(j)))
    val take = math.min(sampleSize, n)
    val pts = new Array[Array[Double]](take)
    i = 0
    while (i < take) {
      val j = sorted(i)
      pts(i) = java.util.Arrays.copyOfRange(flatVecs, j * dim, (j + 1) * dim)
      i += 1
    }
    lloyd(pts, nlist, iters)
  }

  /** Lloyd's iterations over driver-resident points (the shared fit
    * kernel behind the flat and two-level quantizers). Empty cells
    * keep their previous centroid (deterministic). */
  private def lloyd(pts: Array[Array[Double]], nlist: Int,
                    iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    // init: evenly strided sample points (deterministic, spread out)
    var cent = Array.tabulate(nlist)(i => pts(i * pts.length / nlist).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](nlist, dim)
      val counts = new Array[Int](nlist)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nlist) {
          var s = 0.0; var j = 0
          while (j < dim) { val d = p(j) - cent(c)(j); s += d * d; j += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      cent = Array.tabulate(nlist) { c =>
        if (counts(c) == 0) cent(c)
        else Array.tabulate(dim)(j => sums(c)(j) / counts(c))
      }
      it += 1
    }
    cent
  }

  /** Two-level (residual) coarse quantizer: `nc` coarse centroids plus
    * ONE shared `nf`-centroid codebook over coarse residuals — nc·nf
    * effective cells from nc+nf fitted vectors (Jégou 2011's IVFADC
    * coarse stage). This is what lifts the IVF family past the flat
    * ceiling: the flat fit walls at ~4096 cells (driver Lloyd's is
    * O(sample·nlist·dim·iters) and per-row assignment O(nlist·dim));
    * here both stay O(max(nc,nf)) and a 536M-vector corpus at 32/cell
    * still needs only nc = nf = 4096. */
  final case class Centroids2(coarse: Array[Array[Double]],
                              fine: Array[Array[Double]]) {
    require(coarse.nonEmpty && fine.nonEmpty, "Centroids2: empty codebook")
    val dim: Int = coarse(0).length
    require(coarse.forall(_.length == dim) && fine.forall(_.length == dim),
      "Centroids2: ragged centroid matrix")
    def nc: Int = coarse.length
    def nf: Int = fine.length
    def nCells: Int = nc * nf
    private[Ivf] lazy val flatCoarse: Array[Double] = coarse.flatten
    private[Ivf] lazy val flatFine: Array[Double] = fine.flatten
  }

  def fitCentroids2(emb: DataFrame, idCol: String, vecCol: String,
                    nc: Int, nf: Int, iters: Int = 10,
                    sampleSize: Int = 8192): Centroids2 = {
    val pts = hashOrderedSample(emb, idCol, vecCol, sampleSize)
    require(pts.length >= math.max(nc, nf),
      s"need >= ${math.max(nc, nf)} sample points, got ${pts.length}")
    val coarse = lloyd(pts, nc, iters)
    val dim = pts(0).length
    // residual of every sample point w.r.t. its nearest coarse centroid
    val residuals = pts.map { p =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < nc) {
        var s = 0.0; var j = 0
        while (j < dim) { val d = p(j) - coarse(c)(j); s += d * d; j += 1 }
        if (s < bestD) { bestD = s; best = c }
        c += 1
      }
      Array.tabulate(dim)(j => p(j) - coarse(best)(j))
    }
    Centroids2(coarse, lloyd(residuals, nf, iters))
  }

  /** The query's npc·npf probed cells under the two-level quantizer,
    * as an array column (one native codegen expression — top-npc
    * coarse, then top-npf fine over each probed coarse's residual).
    * Assignment is the npc=npf=1 case. */
  def probeCells2Col(vec: Column, c2: Centroids2, npc: Int, npf: Int): Column =
    graft.functions.ArrayMath.twoLevelProbe(vec, c2.flatCoarse, c2.flatFine,
      c2.nc, c2.nf, c2.dim, npc, npf)

  /** (squared-distance, cell-index) struct per centroid — the codegen
    * building block for both assignment and probing. */
  private def distStructs(vec: Column, centroids: Array[Array[Double]]): Seq[Column] =
    centroids.zipWithIndex.toSeq.map { case (c, i) =>
      struct(graft.functions.ArrayMath.sqDiffSum(vec, typedLit(c.toSeq)).as("d"),
             lit(i).as("cell"))
    }

  /** Nearest-centroid cell id — the native `NearestCentroidCell`
    * expression (one tight codegen loop over a double[] reference
    * object). Replaced the struct-literal `array_min` spelling after
    * the r5 soak: joining on that column pushed `IsNotNull(<whole
    * expression>)` into a per-row Filter that re-evaluated the matrix
    * literals at ~200 µs/row (`PLANS.md` "r5 scale soak"). */
  def cellCol(vec: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.ArrayMath.nearestCell(vec, centroids)

  /** The query's `nprobe` nearest cells, as an array column. The
    * array_sort runs over nlist structs per QUERY row only. */
  def probeCellsCol(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    expr_probe(vec, centroids, nprobe)

  private def expr_probe(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    transform(slice(array_sort(array(distStructs(vec, centroids): _*)), 1, nprobe),
              s => s.getField("cell"))

  /** Corpus rows with their cell assignment: (nid, nf, cell). The
    * one-time 100 TB preparation — persist this bucketed by `cell`
    * (`Sources.writeBucketed(assign(...), tbl, "cell", n)`) and every
    * later probe joins the corpus side with ZERO exchange and zero
    * sort (bucketed+sorted scan), leaving only the tiny probe side to
    * shuffle. */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Double]]): DataFrame =
    emb.select(col(idCol).as("nid"),
        col(vecCol).cast("array<double>").as("nf"))
      .withColumn("cell", cellCol(col("nf"), centroids))

  /** Per-query exact top-k over the probed cells' candidates:
    * corpus → cell assignment (scan-parallel) → equi-join with the
    * exploded (query, cell) probes → exact cosine → window top-k.
    * Returns (query_id, neighbor_id, cos). */
  def topk(emb: DataFrame, idCol: String, vecCol: String,
           queries: DataFrame, k: Int,
           centroids: Array[Array[Double]], nprobe: Int): DataFrame =
    topkFromAssigned(assign(emb, idCol, vecCol, centroids),
                     queries, idCol, vecCol, k, centroids, nprobe)

  /** Probe a pre-assigned (possibly bucketed-table) corpus. */
  def topkFromAssigned(corpus: DataFrame,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, centroids: Array[Array[Double]],
                       nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qf"))
      .withColumn("cell",
        explode(expr_probe(col("qf"), centroids, nprobe)))
    val cand = probes.join(corpus, Seq("cell"))
      .filter(col("query_id") =!= col("nid"))
      .select(col("query_id"), col("nid"),
              round(VectorOps.cosine(col("qf"), col("nf")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nid").asc)
    cand.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("nid").as("neighbor_id"), col("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Grid-cell ORACLE-PROOF twin of the IVF probe (`sim_ivf_topk_grid`)
    * — the `dedup_semantic_grid` pattern applied to top-k search:
    * deterministic floor-grid cells over the first `gridDims`
    * unit-normalized components replace the k-means coarse quantizer,
    * and the probe list is the query's own cell ± 1 per dim
    * (3^gridDims cells) instead of "nprobe nearest centroids" — so
    * cell assignment, probe expansion, the candidate equi-join and the
    * per-query top-k window are ALL independently re-derived by a
    * DuckDB oracle, pinning the IVF candidate algebra the way the md5
    * twins pinned minhash. K-means cells stay the production path
    * (they adapt to density; a fixed grid does not) — this is the
    * provable stand-in with the identical plan shape: per-row cell
    * expression on the scan, explode on the (tiny) query side, ONE
    * equi-join keyed by small ints, window top-k. Zero-norm vectors
    * are excluded on both sides (no cosine direction exists).
    * Returns (query_id, neighbor_id, cos) ranked (cos desc, id asc). */
  def topkGrid(emb: DataFrame, idCol: String, vecCol: String,
               queries: DataFrame, k: Int,
               gridDims: Int = 2, gridSize: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gridDims >= 1 && gridSize > 0, s"bad grid $gridDims/$gridSize")
    def prep(df: DataFrame, idAs: String, fAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(vecCol).cast("array<double>").as(fAs))
        .withColumn("__n", sqrt(VectorOps.dot(col(fAs), col(fAs))))
        .filter(col("__n") > 0)
    def cellCols(f: String, prefix: String): Seq[Column] =
      (1 to gridDims).map(d =>
        floor(element_at(col(f), d) / col("__n") / lit(gridSize))
          .cast("long").as(s"$prefix$d"))
    val corpus = prep(emb, "nid", "nf")
      .select(col("nid") +: col("nf") +: cellCols("nf", "c"): _*)
    val q0 = prep(queries, "query_id", "qf")
      .select(col("query_id") +: col("qf") +: cellCols("qf", "qc"): _*)
    // ± 1 multi-probe: the cross product of {-1,0,1} per grid dim
    val offsets = (1 to gridDims).foldLeft(Seq(Seq.empty[Int]))((acc, _) =>
      acc.flatMap(t => Seq(-1, 0, 1).map(o => t :+ o)))
    val probes = q0.withColumn("__off",
        explode(array(offsets.map(o => array(o.map(lit): _*)): _*)))
      .select(col("query_id") +: col("qf") +:
        (1 to gridDims).map(d =>
          (col(s"qc$d") + element_at(col("__off"), d)).as(s"c$d")): _*)
    val cand = probes.join(corpus, (1 to gridDims).map(d => s"c$d"))
      .filter(col("query_id") =!= col("nid"))
      .select(col("query_id"), col("nid"),
              round(VectorOps.cosine(col("qf"), col("nf")), 6).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("nid").asc)
    cand.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
      .select(col("query_id"), col("nid").as("neighbor_id"), col("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** IVF multi-probe kNN GRAPH — every vector's top-`k` neighbors from
    * candidates sharing a probed cell (the `topk` machinery applied
    * with the corpus as its own query feed; the scale path for
    * whole-graph construction, `q_knn_graph_ivf`). Work is
    * n·occupancy·nprobe² cosines — linear in n at the fixed
    * `targetCell` occupancy; the cell count adapts like
    * `Dedup.adaptiveNlist` (the r6 fixed-capacity lesson: saturated
    * cells go quadratic) and the k-means sample scales with the cell
    * count like `Dedup.semanticPairs` (a sample equal to nlist fits
    * one point per centroid — a degenerate model). The probed frame is
    * localCheckpointed so the per-row centroid probe (nlist sq-dists +
    * array_sort) runs ONCE, not once per self-join side. Returns
    * (query_id, neighbor_id, cos), ranked (cos desc, id asc).
    *
    * Approximation contract — NODE coverage, not just edge recall: a
    * vector whose probed cells contain no other vector emits NO row at
    * all, so (unlike `q_knn_graph`, which always yields k neighbors
    * per vector) query_ids can be absent from the graph entirely — a
    * silent-miss hazard for downstream inner joins. Pass
    * `keepIsolated = true` (or apply `knnGraphWithIsolated` to an
    * already-built graph) to close it: every corpus id appears, with
    * isolated nodes carried as (query_id, NULL, NULL) rows — so an
    * inner join downstream can never silently drop a vector, and a
    * `neighbor_id IS NULL` filter names the isolated set explicitly.
    * The soak gates measure edge recall, planted-cluster node
    * coverage, AND that the keepIsolated variant covers 100% of
    * corpus ids. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String,
               k: Int = 5, nprobe: Int = 6,
               targetCell: Int = 32,
               maxFlatNlist: Int = 4096,
               cellCap: Int = 512,
               keepIsolated: Boolean = false): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("f"))
    val nlistNeeded = math.max(16L, e.count() / targetCell)
    val probed =
      if (nlistNeeded <= maxFlatNlist) {
        // flat quantizer — one Lloyd's fit, one per-row nprobe probe
        val nlist = nlistNeeded.toInt
        val sample = math.min(math.max(4096, 20 * nlist), 16384)
        val cent = fitCentroids(e, "vec_id", "f", nlist, sampleSize = sample)
        e.select(col("vec_id"), col("f"),
          explode(probeCellsCol(col("f"), cent, nprobe)).as("cell"))
      } else {
        // past the flat ceiling (the r7 PLANS.md boundary at ~2M
        // vectors): two-level residual quantizer — nc·nc effective
        // cells keep occupancy at targetCell while fit and per-row
        // probe stay O(nc). Probe budget: npc = ~nprobe/2 coarse cells
        // × npf = 3 fine cells ≈ 1.5x the flat path's cell count — an
        // r8 sweep of (npc, npf) splits showed fine-cell BOUNDARIES are
        // where product cells lose true neighbors (npf 2 → 3 lifted
        // real-table recall 0.73 → 0.92 at 9 cells, while 12 cells at
        // npf=2 managed only 0.84), and the extra candidates stay
        // bounded by cellCap while the per-row probe remains
        // O(nc + npc·nf) ≪ the flat O(nlist).
        val nc = math.ceil(math.sqrt(nlistNeeded.toDouble)).toInt
        require(nc <= 4096,
          s"knnGraph: $nlistNeeded cells needs nc=$nc > 4096 coarse " +
            "centroids (~536M vectors at targetCell=32) — shard the " +
            "corpus and merge per-node top-k")
        val (npc, npf) = (math.max(2, (nprobe + 1) / 2), 3)
        val sample = math.min(math.max(8192, 20 * nc), 32768)
        val c2 = fitCentroids2(e, "vec_id", "f", nc, nc, sampleSize = sample)
        e.select(col("vec_id"), col("f"),
          explode(probeCells2Col(col("f"), c2, npc, npf)).as("cell"))
      }
    val graph = knnGraphFromProbed(probed, k, cellCap)
    if (keepIsolated) knnGraphWithIsolated(graph, e, "vec_id") else graph
  }

  /** Close `knnGraph`'s node-coverage gap on an already-built graph:
    * left-join the corpus id set back so EVERY id appears — ids whose
    * probed cells held no other vector surface as
    * (query_id, NULL, NULL) rows instead of vanishing. One broadcast-
    * able join on the (small, n·k-row) edge frame; the id side is a
    * column-pruned scan. Used by `knnGraph(keepIsolated = true)` and
    * directly by callers holding a checkpointed graph (the knn2 soak's
    * coverage gate). */
  def knnGraphWithIsolated(graph: DataFrame, emb: DataFrame,
                           idCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("query_id")).distinct()
      .join(graph, Seq("query_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("cos"))

  /** The shared candidate-join + per-node top-k behind both quantizer
    * paths. The probed frame is localCheckpointed so the per-row
    * centroid probe runs ONCE, not once per self-join side.
    *
    * `cellCap` is the repo-standard named per-key bound on the one
    * pair-generating join (the bandBucketCap/cellCap philosophy:
    * nothing all-pairs): the CANDIDATE side of each cell is capped at
    * `cellCap` md5-ordered rows, the QUERY side stays uncapped — so a
    * pathologically dense cell (a near-duplicate point mass that the
    * quantizer cannot split into more cells than it has centroids;
    * the two-level fine codebook has only nf units to give such a
    * mass) costs |cell|·cellCap pairs instead of |cell|², while EVERY
    * node still probes its cells and receives candidates. At healthy
    * occupancy (~targetCell << cellCap) the cap never binds and the
    * output is row-identical to the uncapped join; inside a point
    * mass the dropped candidates are cosine-ties of the kept ones, so
    * per-node top-k quality is unchanged (the soak's cluster gate
    * measures exactly this).
    * (private[graft]: the soak harness reuses it to force the old
    * capped-flat path for the two-level head-to-head gate.) */
  private[graft] def knnGraphFromProbed(probed0: DataFrame, k: Int,
                                        cellCap: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probed = probed0.localCheckpoint()
    val idType = probed.schema("vec_id").dataType
    val wCap = Window.partitionBy("cell")
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    val cand = probed.withColumn("__r", row_number().over(wCap))
      .filter(col("__r") <= cellCap).drop("__r")
    val cos = round(graft.functions.VectorOps.cosine(col("a.f"), col("b.f")), 6)
    // r16 (guide §2.4): a (query, neighbor) pair collides in up to
    // nprobe cells, so the old reduce was a full candidate-volume
    // dropDuplicates Exchange keyed (query, neighbor) AND a second
    // window Exchange keyed query. One group-by collects each query's
    // (nprobe × cellCap)-bounded candidate list instead, and
    // `NeighborTopK` applies the identical dedup (colliding pairs
    // carry the same rounded cosine) and the identical
    // (cos desc, neighbor asc) rank in a single per-group pass — one
    // Exchange where there were two, no per-query sort.
    val edges = probed.as("a").join(cand.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("query_id"),
              struct(col("b.vec_id").cast("long").as("nid"),
                     cos.as("cos")).as("__c"))
      .groupBy("query_id").agg(collect_list("__c").as("__cs"))
    edges.select(col("query_id"),
        explode(graft.functions.ArrayMath.neighborTopK(col("__cs"), k)).as("v"))
      .select(col("query_id"),
              col("v.neighbor_id").cast(idType).as("neighbor_id"),
              col("v.cos").as("cos"))
  }
}
