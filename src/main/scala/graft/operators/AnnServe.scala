package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The SERVE half of the similarity family: a query-vector FEED scored
  * against a fitted in-memory index shard, row-locally — no join, no
  * shuffle, no state, so a live stream of queries is answered at scan
  * speed (the `fitNbQuality`/`fitFuzzyKeys` fit/serve pattern applied
  * to ANN, and the Spark analog of how vector-search engines actually
  * serve: index shards resident in RAM on each serving node, queries
  * fanned out over them).
  *
  * Scale shape: the SHARD is the bounded quantity — at 100 TB the
  * corpus is partitioned into shards sized to executor memory, each
  * serving task holds one, and a per-query top-k merge combines shard
  * answers (identical to the IVF probe's cell merge). The query side
  * is the unbounded one and is never collected. For corpus-side scale
  * WITHIN one Spark job, the LSH/IVF/PQ paths (`sim_lsh_topk`,
  * `sim_ivf_topk`, `sim_pq_topk`) remain the candidates-first answer;
  * this path is exact and shard-bounded. Fidelity: the serve output is
  * bit-identical to the batch `q_sim_bruteforce` join+window plan (the
  * expression ranks on HALF_UP-6dp-rounded cosine with the same
  * tie-break), so the same DuckDB oracle hash-checks both, and the
  * streaming twin's drained end state equals the batch answer
  * row-for-row. */
object AnnServe {

  /** One in-memory index shard: ids + row-major vectors (doubles, the
    * same float→double cast the batch plan applies). Constant-size per
    * SHARD by deployment contract — see the class doc; the driver-side
    * collect here is the shard build, bounded by the same executor-
    * memory sizing that bounds every broadcast model in this repo. */
  final case class AnnShard(ids: Array[Long], flatVecs: Array[Double], dim: Int) {
    require(dim > 0 && flatVecs.length == ids.length * dim,
      s"AnnShard: ${flatVecs.length} values for ${ids.length} ids at dim $dim")
    // cached broadcast handle (one serialization per shard per session;
    // transient so the persisted artifact stays plain arrays). The
    // broadcast carries the precomputed norms too — fitted once here,
    // never per task. The owning SparkContext is remembered alongside:
    // a shard reused after a context restart (or from another session)
    // must re-broadcast rather than hand back a handle whose driver
    // state is gone — that failure mode surfaces as an obscure
    // task-time "Failed to get broadcast_N" instead of a rebuild.
    @transient private var bc:
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double])] = _
    @transient private var bcOwner: org.apache.spark.SparkContext = _
    private[graft] def broadcastWith(sc: org.apache.spark.SparkContext):
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double])] =
      synchronized {
        if (bc == null || (bcOwner ne sc) || sc.isStopped) {
          require(!sc.isStopped, "AnnShard: cannot broadcast on a stopped SparkContext")
          val n = ids.length
          val norms = new Array[Double](n)
          var i = 0
          while (i < n) {
            var s = 0.0; var j = 0
            while (j < dim) { val v = flatVecs(i * dim + j); s += v * v; j += 1 }
            norms(i) = math.sqrt(s); i += 1
          }
          bc = sc.broadcast((ids, flatVecs, norms))
          bcOwner = sc
        }
        bc
      }
  }

  /** Build the shard from an embeddings frame. `rowCap` is the loud
    * scale guard: a shard is memory-resident by design, so exceeding
    * the cap is a deployment error (shard the corpus and merge
    * per-query answers), never something to let `collect()` discover
    * as an executor OOM. The default bounds a float64×64-dim shard at
    * ~0.5 GB. */
  def fitShard(embeddings: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding",
               rowCap: Int = 1 << 20): AnnShard = {
    // bounded probe (scans at most rowCap+1 rows), so the guard fires
    // before any corpus-sized driver materialization is attempted
    require(embeddings.limit(rowCap + 1).count() <= rowCap,
      s"AnnShard: embeddings exceed the per-shard cap $rowCap — an ANN " +
        "serve shard must fit serving-node memory; use fitShards + " +
        "topkRowsSharded to partition the corpus and merge per-query " +
        "top-k answers instead")
    buildShard(embeddings
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect())
  }

  /** `fitShard` when the caller needs the row count anyway (a
    * maintained-state advance decides empty-batch/no-op from it): ONE
    * collect replaces the separate count + collect. The cap check
    * runs AFTER the collect (there is no pre-collect bound in the
    * one-job path — a `limit(rowCap+1)` CollectLimit scans partitions
    * incrementally, 1 then 4×…, which is MORE jobs per micro-batch,
    * not fewer), so the caller must assert the bound:
    * `callerBoundsRows = true` states the input is bounded by
    * construction (a trigger-bounded micro-batch frame) and skips the
    * probe; `false` pays the bounded pre-collect probe (`fitShard`'s
    * spelling) before collecting. Either way the post-collect require
    * still fires on a cap breach, and `spark.driver.maxResultSize`
    * (default 1g ≈ the rowCap's own ~0.5 GB design point) aborts a
    * runaway collect before the driver heap dies. Returns None when
    * the frame is empty (nothing to shard). */
  private[graft] def fitShardBounded(embeddings: DataFrame,
                                     idCol: String = "vec_id",
                                     vecCol: String = "embedding",
                                     rowCap: Int = 1 << 20,
                                     callerBoundsRows: Boolean = false): (Option[AnnShard], Long) = {
    if (!callerBoundsRows)
      require(embeddings.limit(rowCap + 1).count() <= rowCap,
        s"AnnShard: embeddings exceed the per-shard cap $rowCap — an ANN " +
          "serve shard must fit serving-node memory; use fitShards + " +
          "topkRowsSharded to partition the corpus and merge per-query " +
          "top-k answers instead")
    val rows = embeddings
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
    require(rows.length <= rowCap,
      s"AnnShard: embeddings exceed the per-shard cap $rowCap — an ANN " +
        "serve shard must fit serving-node memory; use fitShards + " +
        "topkRowsSharded to partition the corpus and merge per-query " +
        "top-k answers instead")
    (if (rows.isEmpty) None else Some(buildShard(rows)), rows.length.toLong)
  }

  /** Driver-side shard UNION for a long-lived maintained index
    * (`streaming.GraphStream`): the standing shard advances with its
    * corpus instead of being refit from a cluster scan every
    * micro-batch. Pure array concat — the result is definitionally
    * the shard `fitShard` would build over the union (row order is
    * irrelevant: every consumer ranks over ALL shard rows). Ids must
    * be disjoint and the union must still fit the per-shard cap. */
  def concatShards(a: AnnShard, b: AnnShard,
                   rowCap: Int = 1 << 20): AnnShard = {
    require(a.dim == b.dim, s"concatShards: dim ${a.dim} vs ${b.dim}")
    require(a.ids.length.toLong + b.ids.length <= rowCap,
      s"concatShards: union of ${a.ids.length} + ${b.ids.length} ids " +
        s"exceeds the per-shard cap $rowCap — hand off to fitShards + " +
        "topkRowsSharded (the multi-node serve tier) before this point")
    val overlap = a.ids.toSet.intersect(b.ids.toSet)
    require(overlap.isEmpty,
      s"concatShards: ${overlap.size} overlapping ids (e.g. " +
        s"${overlap.take(3).mkString(",")}) — re-ingested ids need an " +
        "explicit delete before the insert")
    AnnShard(a.ids ++ b.ids, a.flatVecs ++ b.flatVecs, a.dim)
  }

  /** Driver-side shard DELETE — the other half of maintained-shard
    * advancement. `removed` must be a subset of the shard's ids (an
    * id never indexed is a caller error, same as `knnGraphDelete`),
    * and the delete must not empty the shard (an emptied index is a
    * re-bootstrap, not a filter — the caller decides that loudly). */
  def filterShard(s: AnnShard, removed: Set[Long]): AnnShard = {
    val idSet = s.ids.toSet
    val missing = removed.diff(idSet)
    require(missing.isEmpty,
      s"filterShard: ${missing.size} removed ids not in the shard " +
        s"(e.g. ${missing.take(3).mkString(",")})")
    require(removed.size < s.ids.length,
      "filterShard: delete would empty the shard — an emptied index " +
        "must re-bootstrap from the next insert batch, not serve empty")
    val keep = s.ids.indices.filterNot(i => removed(s.ids(i)))
    val ids = keep.map(s.ids).toArray
    val flat = new Array[Double](keep.length * s.dim)
    keep.zipWithIndex.foreach { case (i, j) =>
      System.arraycopy(s.flatVecs, i * s.dim, flat, j * s.dim, s.dim)
    }
    AnnShard(ids, flat, s.dim)
  }

  /** The shared array build behind `fitShard`/`fitShards`. Rejects
    * non-finite components AT FIT TIME: the serve expressions rank on
    * rounded finite scores while the batch join+window plan ranks NaN
    * cosines FIRST under Spark's descending NaN ordering — so a
    * contaminated corpus would silently diverge between the two
    * "bit-identical" paths instead of failing loudly here. */
  private def buildShard(rows: Array[org.apache.spark.sql.Row]): AnnShard = {
    require(rows.nonEmpty, "AnnShard: empty embeddings frame")
    val dim = rows(0).getSeq[Double](1).length
    val ids = new Array[Long](rows.length)
    val flat = new Array[Double](rows.length * dim)
    var i = 0
    while (i < rows.length) {
      ids(i) = rows(i).getLong(0)
      val v = rows(i).getSeq[Double](1)
      require(v.length == dim,
        s"AnnShard: ragged vector at ${ids(i)} (${v.length} vs $dim)")
      var j = 0
      while (j < dim) {
        val x = v(j)
        require(java.lang.Double.isFinite(x),
          s"AnnShard: non-finite component $x at id ${ids(i)} dim $j — " +
            "the serve/batch bit-parity contract only holds for finite " +
            "embeddings; clean the corpus before fitting")
        flat(i * dim + j) = x; j += 1
      }
      i += 1
    }
    AnnShard(ids, flat, dim)
  }

  /** Partition the corpus into `nShards` hash shards — the 100 TB
    * deployment shape where one `fitShard` cap is exceeded: each shard
    * is an independent exact index sized to one serving node, and
    * `topkRowsSharded` merges per-query answers across them. The shard
    * key is `pmod(xxhash64(id), nShards)` computed IN SPARK (never a
    * driver-side re-hash that could drift from the engine's), and the
    * split is one corpus scan — not nShards filtered re-scans. On a
    * real cluster each shard's build would run on its serving node;
    * in one JVM they coexist, which is the same total memory the
    * serving tier holds anyway. */
  def fitShards(embeddings: DataFrame, nShards: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                rowCap: Int = 1 << 20): IndexedSeq[AnnShard] = {
    require(nShards >= 1, s"fitShards: need nShards >= 1, got $nShards")
    val totalCap = nShards.toLong * rowCap
    require(totalCap <= Int.MaxValue,
      s"fitShards: nShards * rowCap = $totalCap exceeds a collectable row count")
    require(embeddings.limit(totalCap.toInt + 1).count() <= totalCap,
      s"fitShards: embeddings exceed $nShards shards x cap $rowCap — " +
        "raise nShards so every shard fits serving-node memory")
    val rows = embeddings
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        pmod(xxhash64(col(idCol).cast("long")), lit(nShards)).cast("int"))
      .collect()
    val byShard = rows.groupBy(_.getInt(2))
    (0 until nShards).map { s =>
      val part = byShard.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
      require(part.length <= rowCap,
        s"fitShards: shard $s holds ${part.length} rows > cap $rowCap " +
          "(skewed ids?) — raise nShards")
      require(part.nonEmpty,
        s"fitShards: shard $s is empty — nShards=$nShards is oversized " +
          "for this corpus; lower it (an empty serving shard is a " +
          "deployment mistake, not a state to serve from)")
      buildShard(part)
    }
  }

  /** Exact top-k across a SHARDED corpus: per-shard row-local serve
    * (`topkRows`) unioned, then a per-query top-k merge — the cross-
    * shard half of the serve tier's 100 TB contract. Correct because
    * each shard's answer is exact over its subset: every global top-k
    * neighbor wins its own shard's top-k (per-shard competition is a
    * subset of global), so the union of per-shard top-ks contains the
    * global top-k, and the merge window re-ranks on the SAME
    * HALF_UP-6dp-rounded cosine and (cos desc, neighbor_id asc)
    * tie-break the in-shard expression used — output is therefore
    * bit-identical to the single-shard serve and to the batch
    * brute-force oracle, for ANY shard count. Cost shape: the query
    * feed scans each shard once (the serve fan-out every distributed
    * vector store pays); the merge window shuffles only
    * |queries| x k x nShards answer rows, never vectors. */
  def topkRowsSharded(queries: DataFrame, shards: Seq[AnnShard], k: Int = 10,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards.nonEmpty, "topkRowsSharded: no shards")
    require(shards.map(_.dim).distinct.size == 1,
      s"topkRowsSharded: mixed shard dims ${shards.map(_.dim).distinct}")
    val unioned = shards.map(sh => topkRows(queries, sh, k, idCol, vecCol))
      .reduce(_ unionAll _)
    if (shards.size == 1) unioned
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      unioned.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
  }

  /** Exact top-k cosine per query row against the shard — one native
    * codegen expression (`functions.CosineTopK`), exploded to
    * (query_id, neighbor_id, cos) rows. Works identically on batch and
    * streaming frames (stateless append). */
  def topkRows(queries: DataFrame, shard: AnnShard, k: Int = 10,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.cosineTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext),
          shard.dim, k))
          .as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.cos").as("cos"))

  /** The GRAPH serve shard: the raw-vector shard plus the kNN graph's
    * symmetrized adjacency in CSR form (`nbrOff`/`nbrIdx` index into
    * `ids`) and the IVF-seeded entry node indexes — what
    * `functions.GraphBeamTopK` walks. This is the tier where the
    * MAINTAINED graph (`knnGraphIncremental` / `streaming.GraphStream`)
    * becomes a search structure: per query O(visited·degree·dim)
    * instead of the flat shard's O(n·dim) scan, the gap that decides
    * serve latency once a shard holds ~10⁶ vectors. Memory adds only
    * the adjacency (≤ degreeCap ints/vector vs dim·8 bytes of vector),
    * so the cap posture is `AnnShard`'s. */
  final case class GraphShard(ids: Array[Long], flatVecs: Array[Double],
                              dim: Int, nbrOff: Array[Int],
                              nbrIdx: Array[Int], entryIdx: Array[Int]) {
    require(dim > 0 && flatVecs.length == ids.length * dim &&
        nbrOff.length == ids.length + 1 && entryIdx.nonEmpty,
      s"GraphShard: ragged (${ids.length} ids, ${flatVecs.length} values, " +
        s"${nbrOff.length} offsets, ${entryIdx.length} entries at dim $dim)")
    @transient private var bc:
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Int], Array[Int], Array[Int])] = _
    @transient private var bcOwner: org.apache.spark.SparkContext = _
    private[graft] def broadcastWith(sc: org.apache.spark.SparkContext):
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Int], Array[Int], Array[Int])] =
      synchronized {
        if (bc == null || (bcOwner ne sc) || sc.isStopped) {
          require(!sc.isStopped, "GraphShard: cannot broadcast on a stopped SparkContext")
          val n = ids.length
          val norms = new Array[Double](n)
          var i = 0
          while (i < n) {
            var s = 0.0; var j = 0
            while (j < dim) { val v = flatVecs(i * dim + j); s += v * v; j += 1 }
            norms(i) = math.sqrt(s); i += 1
          }
          bc = sc.broadcast((ids, flatVecs, norms, nbrOff, nbrIdx, entryIdx))
          bcOwner = sc
        }
        bc
      }
  }

  /** Build the graph serve shard from the embeddings frame and a kNN
    * edge frame ((query_id, neighbor_id, cos) — `Ivf.knnGraph`'s
    * output, or the maintained `GraphStream` edges). The directed kNN
    * edges are SYMMETRIZED (an edge serves navigation both ways —
    * without in-edges, nodes that are nobody's top-k become
    * unreachable) and degree-capped keeping the highest-cos arcs, the
    * standard graph-index diet (NSG/HNSW keep O(k) arcs per node).
    * Entry points come from the IVF coarse quantizer: `nEntries`
    * Lloyd's centroids over the corpus, each mapped to its nearest
    * shard member — so a query starts near its own region of the
    * sphere instead of a fixed hub. Driver-side collect is the shard
    * build, same cap posture as `fitShard`; the edge collect is
    * n·k-bounded (the graph frame is already the per-node top-k). */
  def fitGraphShard(embeddings: DataFrame, edges: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    nEntries: Int = 16, degreeCap: Int = 32,
                    rowCap: Int = 1 << 20): GraphShard = {
    require(embeddings.limit(rowCap + 1).count() <= rowCap,
      s"GraphShard: embeddings exceed the per-shard cap $rowCap — shard " +
        "the corpus (fitShards posture) and merge per-query answers")
    val base = buildShard(embeddings
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect())
    val n = base.ids.length
    val idx = new java.util.HashMap[Long, Int](n * 2)
    var i = 0
    while (i < n) { idx.put(base.ids(i), i); i += 1 }
    val edgeRows = edges
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
              col("cos").cast("double"))
      .collect()
    require(edgeRows.length <= n.toLong * 2 * degreeCap + (degreeCap * 64L),
      s"GraphShard: ${edgeRows.length} edges for $n nodes — the edge " +
        "frame must be the per-node top-k graph, not a pair dump")
    // symmetrize into per-node (cos desc, neighbor idx asc) capped lists
    val adj = Array.fill(n)(new scala.collection.mutable.ArrayBuffer[(Double, Int)](8))
    edgeRows.foreach { r =>
      if (!r.isNullAt(1)) { // keepIsolated graphs carry (id, NULL) rows
        require(idx.containsKey(r.getLong(0)) && idx.containsKey(r.getLong(1)),
          s"GraphShard: edge (${r.getLong(0)}, ${r.getLong(1)}) references " +
            "an id absent from the embeddings frame — edges and corpus " +
            "must come from the same snapshot")
        val a = idx.get(r.getLong(0)); val b = idx.get(r.getLong(1))
        val c = if (r.isNullAt(2)) 0.0 else r.getDouble(2)
        adj(a) += ((c, b)); adj(b) += ((c, a))
      }
    }
    val nbrOff = new Array[Int](n + 1)
    val tmp = new Array[Array[Int]](n)
    i = 0
    while (i < n) {
      // dedupe per neighbor (both directions land here) keeping the
      // best cos, then cap on (cos desc, idx asc) — deterministic
      val kept = adj(i).groupBy(_._2)
        .map { case (nb, cs) => (cs.map(_._1).max, nb) }.toSeq
        .sortBy { case (c, nb) => (-c, nb) }
        .take(degreeCap).map(_._2).toArray
      tmp(i) = kept
      nbrOff(i + 1) = nbrOff(i) + kept.length
      i += 1
    }
    val nbrIdx = new Array[Int](nbrOff(n))
    i = 0
    while (i < n) { System.arraycopy(tmp(i), 0, nbrIdx, nbrOff(i), tmp(i).length); i += 1 }
    // entry points: IVF coarse centroids → nearest shard member each.
    // r16: fitted from the DRIVER-RESIDENT shard vectors — the shard
    // collect above already holds every (id, vector); re-scanning and
    // TakeOrdered-sorting the corpus for the same hash-ordered sample
    // was one whole extra cluster job per fit. Sample selection and
    // Lloyd's are bit-identical to the cluster spelling
    // (`Ivf.fitCentroidsFromArrays` uses the engine's own XxHash64
    // fold over the ids), so the entry points are unchanged.
    val ne = math.min(nEntries, n)
    val cents = graft.operators.Ivf.fitCentroidsFromArrays(
      base.ids, base.flatVecs, base.dim, ne,
      sampleSize = math.min(math.max(4096, 20 * ne), 16384))
    val entries = cents.map { c =>
      var best = 0; var bestD = Double.MaxValue
      var r = 0
      while (r < n) {
        var d = 0.0; var j = 0; val bbase = r * base.dim
        while (j < base.dim) {
          val t = c(j) - base.flatVecs(bbase + j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = r }
        r += 1
      }
      best
    }.distinct
    GraphShard(base.ids, base.flatVecs, base.dim, nbrOff, nbrIdx, entries)
  }

  /** Beam-search top-k per query row against the graph shard — one
    * native codegen expression (`functions.GraphBeamTopK`), exploded
    * to the serve tier's (query_id, neighbor_id, cos) schema. Same
    * rounding/tie-break as `topkRows`, recall gated in SimilaritySpec;
    * stateless append, so streaming-legal like every serve half. */
  def graphTopkRows(queries: DataFrame, shard: GraphShard, k: Int = 10,
                    ef: Int = 64, maxVisit: Int = 4096,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.graphBeamTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext),
          shard.dim, k, ef, maxVisit))
          .as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.cos").as("cos"))

  /** Partition the corpus into `nShards` hash shards and fit an
    * INDEPENDENT graph index per shard — the 100 TB deployment shape
    * for the beam tier: each serving node builds the kNN graph over
    * its own partition (`Ivf.knnGraph`, the same IVF-bounded
    * construction the declared graph queries run) and answers queries
    * by local beam search; `graphTopkRowsSharded` merges per-query
    * answers. The shard key is computed IN SPARK (`pmod(xxhash64)`,
    * the `fitShards` rule) and the corpus is scanned once into hot
    * blocks before the per-shard builds. Per-shard graphs are DENSER
    * search structures than a global graph filtered to the shard
    * (cross-shard arcs would dangle), which is why the build is
    * per-partition — exactly what each serving node would do. */
  def fitGraphShards(embeddings: DataFrame, nShards: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     k: Int = 8, nEntries: Int = 16, degreeCap: Int = 32,
                     rowCap: Int = 1 << 20): IndexedSeq[GraphShard] = {
    require(nShards >= 1, s"fitGraphShards: need nShards >= 1, got $nShards")
    val tagged = embeddings
      .select(col(idCol).cast("long").as(idCol),
              col(vecCol).cast("array<double>").as(vecCol))
      .withColumn("__sh",
        pmod(xxhash64(col(idCol)), lit(nShards)).cast("int"))
      .localCheckpoint()
    (0 until nShards).map { s =>
      val part = tagged.filter(col("__sh") === s).drop("__sh")
      require(part.limit(1).count() == 1,
        s"fitGraphShards: shard $s is empty — nShards=$nShards is " +
          "oversized for this corpus; lower it")
      val graph = graft.operators.Ivf.knnGraph(part, idCol, vecCol, k)
      fitGraphShard(part, graph, idCol, vecCol, nEntries, degreeCap, rowCap)
    }
  }

  /** Cross-shard merge for the beam tier: per-shard beam answers
    * unioned and re-cut to k per query on the serve family's
    * (cos desc, neighbor_id asc) order — `topkRowsSharded`'s merge
    * applied to `GraphShard`s. Exact over the union of per-shard BEAM
    * answers (the approximation lives inside each shard's walk, the
    * merge adds none); recall is gated in SimilaritySpec. */
  def graphTopkRowsSharded(queries: DataFrame, shards: Seq[GraphShard],
                           k: Int = 10, ef: Int = 64, maxVisit: Int = 4096,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards.nonEmpty, "graphTopkRowsSharded: no shards")
    require(shards.map(_.dim).distinct.size == 1,
      s"graphTopkRowsSharded: mixed shard dims ${shards.map(_.dim).distinct}")
    val unioned = shards
      .map(sh => graphTopkRows(queries, sh, k, ef, maxVisit, idCol, vecCol))
      .reduce(_ unionAll _)
    if (shards.size == 1) unioned
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      unioned.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
  }

  /** The raw serve shard plus each target row's backward-neighborhood
    * mean (avg cos of its top-k in the SOURCE collection), aligned by
    * shard index — what `functions.BitextTopMargin` scans for
    * streaming bitext mining. The means are fitted batch-side by the
    * same backward serve the batch operator runs, so the margin
    * denominators match it bit for bit. */
  final case class BitextShard(ids: Array[Long], flatVecs: Array[Double],
                               dim: Int, avgTgt: Array[Double]) {
    require(dim > 0 && flatVecs.length == ids.length * dim &&
        avgTgt.length == ids.length,
      s"BitextShard: ragged (${ids.length} ids, ${flatVecs.length} values, " +
        s"${avgTgt.length} avgs at dim $dim)")
    @transient private var bc:
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Double])] = _
    @transient private var bcOwner: org.apache.spark.SparkContext = _
    private[graft] def broadcastWith(sc: org.apache.spark.SparkContext):
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[Double])] =
      synchronized {
        if (bc == null || (bcOwner ne sc) || sc.isStopped) {
          require(!sc.isStopped, "BitextShard: cannot broadcast on a stopped SparkContext")
          val n = ids.length
          val norms = new Array[Double](n)
          var i = 0
          while (i < n) {
            var s = 0.0; var j = 0
            while (j < dim) { val v = flatVecs(i * dim + j); s += v * v; j += 1 }
            norms(i) = math.sqrt(s); i += 1
          }
          bc = sc.broadcast((ids, flatVecs, norms, avgTgt))
          bcOwner = sc
        }
        bc
      }
  }

  /** Fit the bitext serve shard over the (already id-remapped) target
    * collection: the raw vector shard plus each target's
    * backward-neighborhood mean — `avg(cos)` of its top-k against the
    * SOURCE shard, computed by the very DataFrame aggregation the
    * batch operator joins on (`Mining.bitextMine`'s `avgTgt`), then
    * collected and aligned by shard index. Every target is a backward
    * query, so the mean exists for every row (loudly required). */
  def fitBitextShard(tgt: DataFrame, srcShard: AnnShard, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     rowCap: Int = 1 << 20): BitextShard = {
    val base = {
      require(tgt.limit(rowCap + 1).count() <= rowCap,
        s"BitextShard: targets exceed the per-shard cap $rowCap — shard " +
          "the collection and merge per-src answers")
      buildShard(tgt
        .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
        .collect())
    }
    val avgRows = topkRows(tgt, srcShard, k, idCol, vecCol)
      .groupBy(col("query_id")).agg(avg(col("cos")).as("avg_tgt"))
      .collect()
    val byId = avgRows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val avgTgt = base.ids.map { id =>
      byId.getOrElse(id, throw new IllegalArgumentException(
        s"BitextShard: target $id has no backward neighborhood — " +
          "src collection empty?"))
    }
    BitextShard(base.ids, base.flatVecs, base.dim, avgTgt)
  }

  /** Per-src margin-criterion mined pair at SERVE tier — one row-local
    * scan per arriving src (`functions.BitextTopMargin`): no join, no
    * window, no state, append-mode streaming-legal. Ids are in the
    * caller's remap space; `Mining.bitextMineServe` wraps the remap
    * and un-map. */
  def bitextTopRows(src: DataFrame, shard: BitextShard, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    src
      .select(col(idCol).cast("long").as("src_id"),
        explode(graft.functions.ArrayMath.bitextTopMargin(
          col(idCol), col(vecCol),
          shard.broadcastWith(src.sparkSession.sparkContext),
          shard.dim, k))
          .as("__bt"))
      .select(col("src_id"), col("__bt.tgt_id").as("tgt_id"),
              col("__bt.cos").as("cos"), col("__bt.margin").as("margin"))

  /** The raw serve shard plus a label per corpus row, aligned by shard
    * index — what `functions.HardNegTopK` scans for label-safe
    * hard-negative mining at serve tier. Missing labels stay null
    * (the null-safe batch-filter semantics survive verbatim). */
  final case class LabeledShard(ids: Array[Long], flatVecs: Array[Double],
                                dim: Int, labels: Array[String]) {
    require(dim > 0 && flatVecs.length == ids.length * dim &&
        labels.length == ids.length,
      s"LabeledShard: ragged (${ids.length} ids, ${flatVecs.length} values, " +
        s"${labels.length} labels at dim $dim)")
    @transient private var bc:
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[String])] = _
    @transient private var bcOwner: org.apache.spark.SparkContext = _
    private[graft] def broadcastWith(sc: org.apache.spark.SparkContext):
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Double], Array[Double], Array[String])] =
      synchronized {
        if (bc == null || (bcOwner ne sc) || sc.isStopped) {
          require(!sc.isStopped, "LabeledShard: cannot broadcast on a stopped SparkContext")
          val n = ids.length
          val norms = new Array[Double](n)
          var i = 0
          while (i < n) {
            var s = 0.0; var j = 0
            while (j < dim) { val v = flatVecs(i * dim + j); s += v * v; j += 1 }
            norms(i) = math.sqrt(s); i += 1
          }
          bc = sc.broadcast((ids, flatVecs, norms, labels))
          bcOwner = sc
        }
        bc
      }
  }

  /** Build the labeled serve shard: the corpus vectors plus each row's
    * label from `labels` (left join — corpus rows without a label keep
    * null, exactly the batch operator's null-safe posture). Labels add
    * a string per row to the same driver-side build `fitShard` pays;
    * the cap posture is unchanged. */
  def fitLabeledShard(corpus: DataFrame, labels: DataFrame,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      labelCol: String = "label",
                      rowCap: Int = 1 << 20): LabeledShard = {
    require(corpus.limit(rowCap + 1).count() <= rowCap,
      s"LabeledShard: corpus exceeds the per-shard cap $rowCap — shard " +
        "the corpus and merge per-anchor answers")
    val lab = labels.select(col(idCol).cast("long").as("__lid"),
                            col(labelCol).cast("string").as("__lab"))
    val rows = corpus
      .select(col(idCol).cast("long").as("__id"),
              col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(lab), col("__id") === col("__lid"), "left")
      .select(col("__id"), col("__v"), col("__lab"))
      .collect()
    require(rows.nonEmpty, "LabeledShard: empty corpus frame")
    val dim = rows(0).getSeq[Double](1).length
    val ids = new Array[Long](rows.length)
    val flat = new Array[Double](rows.length * dim)
    val labs = new Array[String](rows.length)
    var i = 0
    while (i < rows.length) {
      ids(i) = rows(i).getLong(0)
      val v = rows(i).getSeq[Double](1)
      require(v.length == dim,
        s"LabeledShard: ragged vector at ${ids(i)} (${v.length} vs $dim)")
      var j = 0
      while (j < dim) {
        val x = v(j)
        require(java.lang.Double.isFinite(x),
          s"LabeledShard: non-finite component $x at id ${ids(i)} dim $j")
        flat(i * dim + j) = x; j += 1
      }
      labs(i) = if (rows(i).isNullAt(2)) null else rows(i).getString(2)
      i += 1
    }
    LabeledShard(ids, flat, dim, labs)
  }

  /** Label-safe hard negatives at SERVE tier — `Mining.hardNegatives`'
    * exact algebra (top-k window → null-safe same-label drop → rank
    * 1..m) as one row-local scan per anchor (`functions.HardNegTopK`):
    * no join, no window, no state — append-mode streaming-legal, which
    * is what gives the mining family its live twin. Anchors carry
    * their own label column (null = keep all neighbors). Bit-identical
    * to the batch join+window spelling — MiningSpec pins it, and the
    * streaming drain reuses the batch DuckDB oracle verbatim. */
  def hardNegRows(anchors: DataFrame, shard: LabeledShard,
                  k: Int = 20, m: Int = 5,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame =
    anchors
      .select(col(idCol).cast("long").as("anchor_id"),
        explode(graft.functions.ArrayMath.hardNegTopK(
          col(idCol), col(vecCol), col(labelCol),
          shard.broadcastWith(anchors.sparkSession.sparkContext),
          shard.dim, k, m))
          .as("__ng"))
      .select(col("anchor_id"), col("__ng.neg_id").as("neg_id"),
              col("__ng.cos").as("cos"), col("__ng.rank").as("rank"))

  /** The MEMORY-bound serve shard: PQ byte codes instead of raw
    * doubles — m bytes/vector vs dim·8 (64-dim/m=8 ⇒ 64× less shard-vector
    * RAM), the trade that decides how much corpus one serving node
    * holds (Jégou 2011). Codes come from `Pq.encode` itself, so shard
    * contents are definitionally the batch index's codes. */
  final case class PqShard(ids: Array[Long], flatCodes: Array[Byte],
                           model: Pq.Model) {
    require(flatCodes.length == ids.length * model.m,
      s"PqShard: ${flatCodes.length} codes for ${ids.length} ids at m=${model.m}")
    // same owner-validated caching as AnnShard.broadcastWith: a handle
    // from a stopped/replaced SparkContext must trigger a re-broadcast
    @transient private var bc:
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte])] = _
    @transient private var bcOwner: org.apache.spark.SparkContext = _
    private[graft] def broadcastWith(sc: org.apache.spark.SparkContext):
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte])] =
      synchronized {
        if (bc == null || (bcOwner ne sc) || sc.isStopped) {
          require(!sc.isStopped, "PqShard: cannot broadcast on a stopped SparkContext")
          bc = sc.broadcast((ids, flatCodes))
          bcOwner = sc
        }
        bc
      }
  }

  /** Encode the corpus with the fitted PQ model and collect the
    * (id, codes) table as a flat byte shard. Same `rowCap` contract as
    * `fitShard`. The default cap is set by what the collect step
    * ACTUALLY sustains, not by the final shard's footprint: each
    * collected Row carries a boxed Seq[Int] of m codes (~150 B of
    * object overhead at m=16 vs the 16 B the shard keeps), so 8M rows
    * is ~1.5 GB of transient driver heap — a cap of 2^26 would OOM the
    * collect long before the guard it exists to pre-empt could matter. */
  def fitPqShard(embeddings: DataFrame, model: Pq.Model,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 rowCap: Int = 1 << 23): PqShard = {
    require(embeddings.limit(rowCap + 1).count() <= rowCap,
      s"PqShard: embeddings exceed the per-shard cap $rowCap — use " +
        "fitPqShards + pqTopkRowsSharded to partition the corpus and " +
        "merge per-query top-k answers instead")
    buildPqShard(Pq.encode(embeddings, idCol, vecCol, model).collect(), model)
  }

  private def buildPqShard(rows: Array[org.apache.spark.sql.Row],
                           model: Pq.Model): PqShard = {
    require(model.ksub <= 256,
      s"PqShard: byte codes need ksub <= 256, got ${model.ksub}")
    require(rows.nonEmpty, "PqShard: empty embeddings frame")
    val ids = new Array[Long](rows.length)
    val codes = new Array[Byte](rows.length * model.m)
    var i = 0
    while (i < rows.length) {
      ids(i) = rows(i).getLong(0)
      val cs = rows(i).getSeq[Int](1)
      require(cs.length == model.m,
        s"PqShard: ragged codes at ${ids(i)} (${cs.length} vs ${model.m})")
      var s = 0
      while (s < model.m) { codes(i * model.m + s) = cs(s).toByte; s += 1 }
      i += 1
    }
    PqShard(ids, codes, model)
  }

  /** PQ twin of `fitShards`: hash-partition the encoded corpus into
    * `nShards` byte-code shards (same Spark-computed
    * `pmod(xxhash64(id), nShards)` key, same one-scan split). All
    * shards share the one fitted model — shard-local codebooks would
    * make ADC distances incomparable across shards at merge time. */
  def fitPqShards(embeddings: DataFrame, model: Pq.Model, nShards: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  rowCap: Int = 1 << 23): IndexedSeq[PqShard] = {
    require(nShards >= 1, s"fitPqShards: need nShards >= 1, got $nShards")
    val totalCap = nShards.toLong * rowCap
    require(totalCap <= Int.MaxValue,
      s"fitPqShards: nShards * rowCap = $totalCap exceeds a collectable row count")
    require(embeddings.limit(totalCap.toInt + 1).count() <= totalCap,
      s"fitPqShards: embeddings exceed $nShards shards x cap $rowCap — raise nShards")
    val rows = Pq.encode(embeddings, idCol, vecCol, model)
      .withColumn("__shard",
        pmod(xxhash64(col("nid").cast("long")), lit(nShards)).cast("int"))
      .collect()
    val byShard = rows.groupBy(_.getInt(2))
    (0 until nShards).map { s =>
      val part = byShard.getOrElse(s, Array.empty[org.apache.spark.sql.Row])
      require(part.length <= rowCap,
        s"fitPqShards: shard $s holds ${part.length} rows > cap $rowCap — raise nShards")
      require(part.nonEmpty,
        s"fitPqShards: shard $s is empty — nShards=$nShards is oversized " +
          "for this corpus; lower it")
      buildPqShard(part, model)
    }
  }

  /** ADC top-k across sharded byte-code shards — `topkRowsSharded` for
    * the PQ tier: per-shard serve unioned, per-query merge on the same
    * rounded (approx_sqdist asc, neighbor_id asc) order the in-shard
    * expression ranks by. Exact-over-union like the raw merge, so the
    * answer is bit-identical to one whole-corpus PqShard for any shard
    * count (all shards must come from one `fitPqShards` fit — asserted
    * via the shared model reference). */
  def pqTopkRowsSharded(queries: DataFrame, shards: Seq[PqShard], k: Int = 10,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards.nonEmpty, "pqTopkRowsSharded: no shards")
    require(shards.forall(_.model eq shards.head.model),
      "pqTopkRowsSharded: shards must share one fitted Pq.Model — " +
        "per-shard models make ADC distances incomparable at merge time")
    val unioned = shards.map(sh => pqTopkRows(queries, sh, k, idCol, vecCol))
      .reduce(_ unionAll _)
    if (shards.size == 1) unioned
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("approx_sqdist").asc, col("neighbor_id").asc)
      unioned.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
  }

  /** ADC top-k per query row against the PQ shard — one native codegen
    * expression (`functions.AdcTopK`): per-query LUT build + m table
    * lookups per corpus vector, ranked on rounded approximate squared
    * distance. Bit-identical to the batch `Pq.topk` join+window plan
    * (SimilaritySpec). Stateless — batch and append-mode streaming
    * alike. */
  def pqTopkRows(queries: DataFrame, shard: PqShard, k: Int = 10,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val m = shard.model
    val flatBooks = new Array[Double](m.m * m.ksub * m.dsub)
    var s = 0
    while (s < m.m) {
      var c = 0
      while (c < m.ksub) {
        var j = 0
        while (j < m.dsub) {
          flatBooks((s * m.ksub + c) * m.dsub + j) = m.codebooks(s)(c)(j); j += 1
        }
        c += 1
      }
      s += 1
    }
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.adcTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext), flatBooks,
          m.m, m.ksub, m.dsub, k)).as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.approx_sqdist").as("approx_sqdist"))
  }

  /** The INT8 scalar-quantized serve shard — the middle memory tier
    * between the raw `AnnShard` (dim·8 bytes/vector, exact) and the
    * `PqShard` (m bytes/vector, approximate): one byte per component
    * (8× less vector RAM than raw) dequantized on the fly through a
    * per-dimension affine line, at near-exact ranking quality (the
    * SQ8 layout). Unlike PQ, the whole quantizer — per-dim min/max,
    * round-half-up code, affine dequantization — is plain SQL algebra,
    * so this tier's serve answers are checked by a FULL DuckDB oracle
    * (`sim_sq_serve`), not just a parity spec. Norms are of the
    * DEQUANTIZED vectors, fitted once at build. */
  final case class SqShard(ids: Array[Long], codes: Array[Byte],
                           minl: Array[Double], stepl: Array[Double],
                           norms: Array[Double]) {
    val dim: Int = minl.length
    require(dim > 0 && stepl.length == dim,
      s"SqShard: dequantization line ${minl.length}/${stepl.length}")
    require(codes.length == ids.length * dim && norms.length == ids.length,
      s"SqShard: ${codes.length} codes / ${norms.length} norms for " +
        s"${ids.length} ids at dim $dim")
    // same owner-validated broadcast caching as AnnShard/PqShard
    @transient private var bc:
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte], Array[Double])] = _
    @transient private var bcOwner: org.apache.spark.SparkContext = _
    private[graft] def broadcastWith(sc: org.apache.spark.SparkContext):
        org.apache.spark.broadcast.Broadcast[(Array[Long], Array[Byte], Array[Double])] =
      synchronized {
        if (bc == null || (bcOwner ne sc) || sc.isStopped) {
          require(!sc.isStopped, "SqShard: cannot broadcast on a stopped SparkContext")
          bc = sc.broadcast((ids, codes, norms))
          bcOwner = sc
        }
        bc
      }
  }

  /** Fit the SQ8 shard: per-dimension (min, step=(max−min)/255) line
    * over the corpus, then code_j = clamp(floor((x_j−min_j)/step_j
    * + 0.5), 0, 255) — round-half-up, NOT round-half-even, because
    * `floor(t + 0.5)` is the one rounding both Spark SQL and DuckDB
    * state identically (the batch twin and the oracle use the same
    * expression, making the codes engine-portable). A constant
    * dimension (step 0) stores code 0 and dequantizes to its min.
    * Same `rowCap` contract and loud non-finite rejection as
    * `fitShard` (quantizing a NaN would silently clamp; the serve/
    * batch parity contract only holds for finite corpora). */
  def fitSqShard(embeddings: DataFrame,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 rowCap: Int = 1 << 20): SqShard = {
    require(embeddings.limit(rowCap + 1).count() <= rowCap,
      s"SqShard: embeddings exceed the per-shard cap $rowCap — " +
        "partition the corpus and merge per-query top-k answers instead")
    fitSqFromRows(embeddings
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect())
  }

  /** The shared fit behind `fitSqShard`/`fitSqShards`: rows carry
    * (id, vector) in columns 0/1 (extra columns ignored) and the
    * OUTPUT PRESERVES ROW ORDER — `fitSqShards` relies on index i of
    * the returned arrays lining up with rows(i) so shard assignment
    * can ride the same single collect as the fit. */
  private def fitSqFromRows(rows: Array[org.apache.spark.sql.Row]): SqShard = {
    require(rows.nonEmpty, "SqShard: empty embeddings frame")
    val dim = rows(0).getSeq[Double](1).length
    val n = rows.length
    val ids = new Array[Long](n)
    val raw = new Array[Double](n * dim)
    var i = 0
    while (i < n) {
      ids(i) = rows(i).getLong(0)
      val v = rows(i).getSeq[Double](1)
      require(v.length == dim,
        s"SqShard: ragged vector at ${ids(i)} (${v.length} vs $dim)")
      var j = 0
      while (j < dim) {
        val x = v(j)
        require(java.lang.Double.isFinite(x),
          s"SqShard: non-finite component $x at id ${ids(i)} dim $j — " +
            "clean the corpus before fitting")
        raw(i * dim + j) = x; j += 1
      }
      i += 1
    }
    val minl = Array.fill(dim)(Double.MaxValue)
    val maxl = Array.fill(dim)(Double.MinValue)
    i = 0
    while (i < n) {
      var j = 0
      while (j < dim) {
        val x = raw(i * dim + j)
        if (x < minl(j)) minl(j) = x
        if (x > maxl(j)) maxl(j) = x
        j += 1
      }
      i += 1
    }
    val stepl = Array.tabulate(dim)(j => (maxl(j) - minl(j)) / 255.0)
    val codes = new Array[Byte](n * dim)
    val norms = new Array[Double](n)
    i = 0
    while (i < n) {
      var s = 0.0
      var j = 0
      while (j < dim) {
        val st = stepl(j)
        val c =
          if (st == 0) 0
          else math.min(255.0,
            math.max(0.0, math.floor((raw(i * dim + j) - minl(j)) / st + 0.5))).toInt
        codes(i * dim + j) = c.toByte
        val dq = minl(j) + c * st
        s += dq * dq
        j += 1
      }
      norms(i) = math.sqrt(s)
      i += 1
    }
    SqShard(ids, codes, minl, stepl, norms)
  }

  /** INCREMENTAL kNN-graph maintenance — the continuous-refresh shape
    * for the graph family (the `q_dedup_incremental` posture applied
    * to vectors): a batch of NEW vectors arrives and the existing
    * exact graph must absorb it WITHOUT recomputing old-vs-old work.
    * Exactness falls out of the same merge property the sharded serve
    * uses — per-node top-k over A∪B equals the top-k of (top-k over A
    * ∪ top-k over B) under the shared (rounded-cos desc, id asc)
    * order — so the result is bit-identical to rebuilding the whole
    * graph from scratch (`q_knn_graph`'s oracle applies verbatim to
    * the union). Work shape: three serve passes sized |old|·|new|,
    * |new|·|old|, |new|² — the old·old quadrant (the bulk at
    * steady-state, where |new| ≪ |old|) is NEVER recomputed; its
    * answers enter through `oldEdges` as-is. Ids must be disjoint
    * between the frames (a re-ingested id would need delete+insert,
    * which this operator deliberately does not hide). */
  def knnGraphIncremental(oldEdges: DataFrame, oldEmb: DataFrame,
                          newEmb: DataFrame, k: Int = 5,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame =
    knnGraphIncremental(oldEdges, oldEmb, fitShard(oldEmb, idCol, vecCol),
      newEmb, fitShard(newEmb, idCol, vecCol), k, idCol, vecCol,
      preverifiedEdges = false)

  /** Shard-supplied form of `knnGraphIncremental` for a LONG-LIVED
    * maintained graph (`streaming.GraphStream`): the standing corpus's
    * fitted shard advances driver-side with the corpus
    * (`concatShards`/`filterShard`) instead of being refit from a
    * cluster scan every micro-batch — at micro-batch cadence the
    * refit's probe+collect was the dominant per-batch cost, and at
    * production scale re-collecting an unchanged corpus each batch is
    * exactly the waste a maintained index exists to avoid. CONTRACT:
    * `oldShard`/`newShard` must be fitted over exactly `oldEmb`/
    * `newEmb` (the caller owns frame↔shard lockstep; GraphStream
    * guarantees it by advancing both in one committed state). The
    * merge algebra is unchanged — results stay bit-identical to a
    * scratch rebuild. */
  def knnGraphIncremental(oldEdges: DataFrame, oldEmb: DataFrame,
                          oldShard: AnnShard, newEmb: DataFrame,
                          newShard: AnnShard, k: Int,
                          idCol: String, vecCol: String,
                          preverifiedEdges: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shardNew = newShard
    val shardOld = oldShard
    require(shardOld.ids.toSet.intersect(shardNew.ids.toSet).isEmpty,
      "knnGraphIncremental: old/new ids overlap — re-ingested ids need " +
        "an explicit delete before the incremental insert")
    // The bit-identical-to-rebuild guarantee holds ONLY if oldEdges is
    // the COMPLETE unfiltered top-k over the old corpus with this same
    // k and the same rounded cos values — a smaller k, a cos-threshold
    // filter, or unrounded scores would merge into a plausible but
    // WRONG graph with no error. A complete graph has exactly
    // |old| * min(k, |old|-1) rows, so validate that cheaply and fail
    // loudly on k-mismatched or filtered inputs (ADVICE r8).
    // `preverifiedEdges` (r15): the MAINTAINED graph's edges are this
    // operator's own output at the previous version — complete top-k
    // by induction from the bootstrap, with drained≡rebuild parity
    // gated in StreamingSpec — so GraphStream skips the per-micro-
    // batch count job; every external caller keeps the loud check.
    if (!preverifiedEdges) {
      val nOld = shardOld.ids.length
      val expectedOldEdges = nOld.toLong * math.min(k, nOld - 1)
      val gotOldEdges = oldEdges.count()
      require(gotOldEdges == expectedOldEdges,
        s"knnGraphIncremental: oldEdges has $gotOldEdges rows but the " +
          s"complete unfiltered top-$k graph over $nOld old vectors has " +
          s"$expectedOldEdges — the incremental merge is only " +
          "bit-identical to a rebuild when oldEdges is that exact graph " +
          "(same k, no cos filter, HALF_UP-6dp-rounded scores)")
    }
    val challenged = topkRows(oldEmb, shardNew, k, idCol, vecCol)
    val newVsOld = topkRows(newEmb, shardOld, k, idCol, vecCol)
    val newVsNew = topkRows(newEmb, shardNew, k, idCol, vecCol)
    val unioned = oldEdges.select("query_id", "neighbor_id", "cos")
      .unionAll(challenged).unionAll(newVsOld).unionAll(newVsNew)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    unioned.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** The DELETE half of incremental graph maintenance: removing
    * vectors invalidates exactly the nodes that held a removed id in
    * their top-k — every other node's answer is UNCHANGED (deleting
    * corpus vectors only removes candidates; a top-k that contained
    * none of them is already the top-k over the remaining corpus).
    * So: drop removed nodes' own rows, keep untouched nodes' edges
    * as-is, and re-serve ONLY the affected nodes against the
    * remaining corpus — bit-identical to a scratch rebuild on the
    * remaining set (the same oracle applies with the removed ids
    * filtered out). Work shape: |affected|·|remaining| — at
    * steady-state deletion rates the affected set is k·|removed|-ish,
    * a sliver of the rebuild. `remaining` must already exclude the
    * removed vectors (this operator maintains the GRAPH; corpus
    * deletion is the caller's move). */
  def knnGraphDelete(edges: DataFrame, remaining: DataFrame,
                     removedIds: DataFrame, k: Int = 5,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val removed = removedIds
      .select(col(removedIds.columns.head).cast("long").as("__rid")).distinct()
    // Same completeness contract as knnGraphIncremental (ADVICE r8):
    // `edges` must be the full unfiltered top-k over the PRE-delete
    // corpus (= remaining ∪ removed, with removedIds a subset of the
    // old corpus — an id never indexed is a caller error this check
    // also surfaces). |old| * min(k, |old|-1) rows or fail loudly.
    val nRemoved = removed.count()
    val nRemaining = remaining.select(col(idCol)).distinct().count()
    knnGraphDelete(edges, remaining, fitShard(remaining, idCol, vecCol),
      removed, nRemaining, nRemoved, k, idCol, vecCol,
      preverifiedEdges = false)
  }

  /** Shard-supplied form of `knnGraphDelete` — same rationale and
    * lockstep contract as the shard-supplied `knnGraphIncremental`:
    * a maintained graph (`streaming.GraphStream`) advances its fitted
    * shard driver-side (`filterShard`), so the remaining-corpus counts
    * and the shard are already known and the per-batch probe/count/fit
    * jobs disappear. `removed` must be the distinct single-column
    * `__rid` frame; `nRemaining`/`nRemoved` the exact cardinalities of
    * `remainingShard.ids`/`removed`. */
  def knnGraphDelete(edges: DataFrame, remaining: DataFrame,
                     remainingShard: AnnShard, removed: DataFrame,
                     nRemaining: Long, nRemoved: Long, k: Int,
                     idCol: String, vecCol: String,
                     preverifiedEdges: Boolean): DataFrame = {
    // `preverifiedEdges`: same rationale as knnGraphIncremental — the
    // maintained graph's edges are complete by induction and parity-
    // gated, so its per-batch count job is skipped; external callers
    // keep the loud completeness check.
    if (!preverifiedEdges) {
      val nPre = nRemaining + nRemoved
      val expectedEdges = nPre * math.min(k.toLong, nPre - 1)
      val gotEdges = edges.count()
      require(gotEdges == expectedEdges,
        s"knnGraphDelete: edges has $gotEdges rows but the complete " +
          s"unfiltered top-$k graph over the $nPre pre-delete vectors " +
          s"($nRemaining remaining + $nRemoved removed) has " +
          s"$expectedEdges — the delete patch is only bit-identical to a " +
          "rebuild when edges is that exact graph (same k, no cos " +
          "filter, rounded scores, removedIds drawn from the indexed corpus)")
    }
    val live = edges.join(broadcast(removed),
      col("query_id") === col("__rid"), "left_anti")
    val affected = live.join(broadcast(removed),
        col("neighbor_id") === col("__rid"), "left_semi")
      .select(col("query_id")).distinct()
    val untouched = live.join(broadcast(affected), Seq("query_id"), "left_anti")
    val recomputed = topkRows(
      remaining.join(broadcast(affected),
        col(idCol) === col("query_id"), "left_semi"),
      remainingShard, k, idCol, vecCol)
    untouched.select("query_id", "neighbor_id", "cos").unionAll(recomputed)
  }

  /** SQ8 twin of `fitShards`: ONE global dequantization line (per-dim
    * min/max over the WHOLE corpus — per-shard lines would make
    * dequantized cosines incomparable at merge time, the same rule as
    * the PQ shards' shared model), codes hash-partitioned by the same
    * Spark-computed `pmod(xxhash64(id), nShards)` key. */
  def fitSqShards(embeddings: DataFrame, nShards: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  rowCap: Int = 1 << 20): IndexedSeq[SqShard] = {
    require(nShards >= 1, s"fitSqShards: need nShards >= 1, got $nShards")
    val totalCap = nShards.toLong * rowCap
    require(totalCap <= Int.MaxValue,
      s"fitSqShards: nShards * rowCap = $totalCap exceeds a collectable row count")
    require(embeddings.limit(totalCap.toInt + 1).count() <= totalCap,
      s"fitSqShards: embeddings exceed $nShards shards x cap $rowCap — raise nShards")
    // ONE corpus scan carries both the fit rows AND the Spark-computed
    // shard key (pmod(xxhash64(id), n) — never a driver re-hash that
    // could drift from the engine's): a second scan of a
    // non-deterministic frame (sample, limit, streaming snapshot)
    // could yield a DIFFERENT id set than the fit saw, turning shard
    // assignment into a silent miss (ADVICE r8). fitSqFromRows
    // preserves row order, so rows(i) is whole.ids(i).
    val rows = embeddings
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
        pmod(xxhash64(col(idCol).cast("long")), lit(nShards)).cast("int"))
      .collect()
    val whole = fitSqFromRows(rows)
    val shardOf = rows.map(_.getInt(2))
    val dim = whole.dim
    (0 until nShards).map { s =>
      val idx = whole.ids.indices.filter(i => shardOf(i) == s)
      require(idx.nonEmpty,
        s"fitSqShards: shard $s is empty — nShards=$nShards is oversized " +
          "for this corpus; lower it")
      val codes = new Array[Byte](idx.length * dim)
      idx.zipWithIndex.foreach { case (i, j) =>
        System.arraycopy(whole.codes, i * dim, codes, j * dim, dim)
      }
      SqShard(idx.map(whole.ids).toArray, codes,
        whole.minl, whole.stepl, idx.map(whole.norms).toArray)
    }
  }

  /** SQ8 top-k across sharded byte shards — the `topkRowsSharded`
    * merge for the middle tier: per-shard serve unioned, per-query
    * merge on the same rounded (cos desc, neighbor_id asc) order.
    * Exact-over-union under the SHARED dequantization line, so the
    * answer is bit-identical to one whole-corpus SqShard for any
    * shard count (all shards must come from one `fitSqShards` fit —
    * asserted by comparing their lines by value). */
  def sqTopkRowsSharded(queries: DataFrame, shards: Seq[SqShard], k: Int = 10,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards.nonEmpty, "sqTopkRowsSharded: no shards")
    // VALUE equality, not reference: shards of one fit that were
    // serialized or copied on their way to serving nodes carry
    // value-equal but reference-distinct line arrays, and such a
    // deployment must stay mergeable.
    require(shards.forall(sh =>
        java.util.Arrays.equals(sh.minl, shards.head.minl) &&
        java.util.Arrays.equals(sh.stepl, shards.head.stepl)),
      "sqTopkRowsSharded: shards must share one fitted dequantization " +
        "line — per-shard lines make dequantized cosines incomparable")
    val unioned = shards.map(sh => sqTopkRows(queries, sh, k, idCol, vecCol))
      .reduce(_ unionAll _)
    if (shards.size == 1) unioned
    else {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      unioned.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k).drop("__rn")
    }
  }

  /** SQ8 top-k per query row — one native codegen expression
    * (`functions.SqTopK`): O(n·dim) dequantize-and-dot scan, ranked on
    * rounded cosine of (raw query, dequantized candidate). Bit-
    * identical to the batch `sim_sq_topk` join+window plan and its
    * full-SQL DuckDB oracle. Stateless — batch and append-mode
    * streaming alike. */
  def sqTopkRows(queries: DataFrame, shard: SqShard, k: Int = 10,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.functions.ArrayMath.sqTopK(
          col(idCol), col(vecCol),
          shard.broadcastWith(queries.sparkSession.sparkContext),
          shard.minl, shard.stepl, k))
          .as("__nb"))
      .select(col("query_id"), col("__nb.neighbor_id").as("neighbor_id"),
              col("__nb.cos").as("cos"))
}
